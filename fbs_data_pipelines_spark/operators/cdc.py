"""CDC changelog application — reduce a stream of row-level change
events (insert / update / delete with a sequence number) to the
current table snapshot.

This is the lakehouse "apply changelog" primitive (the relational
core of Debezium→table materialization, Delta CDF replay, Flink
upsert-kafka sinks): events arrive per key in ARBITRARY order across
files/partitions, possibly with replays, and the snapshot is defined
as "the highest-sequence event per key wins; if that event is a
delete, the key is absent".

Scale design (the reason this is NOT a window rank):

* The winner per key is computed as ``max(struct(seq, payload…))`` —
  an ALGEBRAIC aggregate, so Spark map-side-combines it: every
  partition reduces its own events to one candidate row per key
  before the shuffle, and the exchange carries ≤ |keys| rows per
  partition no matter how long the changelog is. A
  ``row_number() OVER (ORDER BY seq DESC)`` formulation would
  shuffle EVERY event and sort per key — strictly worse at 100 TB.
* One shuffle total. No window, no join, no second pass.
* Ties on ``seq`` are resolved DETERMINISTICALLY by the struct's
  lexicographic field order (seq first, then the payload columns in
  their given order) — order-insensitive by construction, so replays
  and micro-batch interleavings cannot flip the result. For
  exactly-once CDC feeds seq is unique per key and the tie-break is
  dormant.

Reference parity: generalizes the reference's join-based upsert
(`/root/reference/src/log_handler.py:99-128` get_table_updated — its
merge is the seq-free two-source special case) to N out-of-order
sources with deletes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def cdc_winners(
    changelog: DataFrame,
    key_cols: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Per-key winning event, KEEPING delete tombstones and the op
    column — the mergeable STATE form of CDC reduction: the winners
    of (state ∪ new-events) equal the winners of the full history, so
    a stored winners table folds incrementally batch after batch with
    arbitrary cross-batch disorder (a straggler older than a retained
    tombstone loses to it instead of wrongly resurrecting the key).
    Same one-shuffle algebraic max(struct(...)) as ``cdc_apply``."""
    keys = list(key_cols)
    payload = [c for c in changelog.columns if c not in (*keys, seq_col, op_col)]
    packed: Column = F.struct(
        F.col(seq_col).alias("__seq"),
        F.col(op_col).alias("__op"),
        *[F.col(c).alias(c) for c in payload],
    )
    won = changelog.groupBy(*keys).agg(F.max(packed).alias("__w"))
    return won.select(
        *keys,
        F.col("__w.__seq").alias(seq_col),
        F.col("__w.__op").alias(op_col),
        *[F.col(f"__w.{c}").alias(c) for c in payload],
    )


def cdc_snapshot(
    state: DataFrame,
    op_col: str = "op",
    delete_ops: Sequence[str] = ("D",),
) -> DataFrame:
    """Live snapshot from a winners-state table: drop tombstones and
    the op column. NULL-safe: ~isin is three-valued, so a winning
    event with NULL op would evaluate to NULL and be silently dropped
    (i.e. treated as a delete). A NULL op is "not a delete" — keep
    the key."""
    op = F.col(op_col)
    alive = state.filter((~op.isin(*delete_ops)) | op.isNull())
    return alive.drop(op_col)


def cdc_apply(
    changelog: DataFrame,
    key_cols: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_ops: Sequence[str] = ("D",),
) -> DataFrame:
    """Current snapshot from a changelog: per key, the event with the
    highest ``seq_col`` wins (struct-order tie-break, see module
    docstring); keys whose winning event has ``op_col`` in
    ``delete_ops`` are dropped. Returns key columns + payload columns
    (everything except op; seq is kept as ``seq_col`` so incremental
    consumers can resume)."""
    won = cdc_winners(changelog, key_cols, seq_col, op_col)
    return cdc_snapshot(won, op_col, delete_ops)
