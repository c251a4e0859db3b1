"""Incremental aggregate maintenance (materialized-rollup pattern).

At 100 TB you never re-aggregate the whole fact table because a day of
data arrived. The standard incremental-view-maintenance trick for
decomposable aggregates: keep the rollup as PARTIAL STATE
(count / sum / min / max per group — each mergeable by an aggregate of
itself), fold each delta batch in with a union + re-aggregate whose
shuffle is sized by the number of GROUPS touched, not by the fact
table, and derive the non-decomposable outputs (avg) only at read
time.

The same decomposition is what Spark itself uses between its partial
and final hash-aggregation stages; this operator just persists the
mid-point. Works identically in batch (this module) and behind
``foreachBatch`` (streaming/merge.py) — state can live in a
``VersionedTable`` for atomic publishes.

Merge cost model: |state| + |delta groups| rows through one shuffle on
the group keys — map-side combined, AQE-coalesced. Retraction: counts
and sums accept negative deltas; min/max are NOT retractable (dropping
the current extreme needs the group's raw rows) — documented contract,
same as every IVM engine's "re-aggregate on delete" escape hatch.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: state column naming: one count column plus sum/min/max per measure
_N = "n_rows"


def _sum_c(m: str) -> str:
    return f"sum_{m}"


def _min_c(m: str) -> str:
    return f"min_{m}"


def _max_c(m: str) -> str:
    return f"max_{m}"


def partial_state(
    df: DataFrame, keys: Sequence[str], measures: Sequence[str]
) -> DataFrame:
    """Aggregate ``df`` into mergeable partial state per group.

    One map-side-combined shuffle; output is groups-sized.
    """
    aggs = [F.count("*").alias(_N)]
    for m in measures:
        aggs += [
            F.sum(m).alias(_sum_c(m)),
            F.min(m).alias(_min_c(m)),
            F.max(m).alias(_max_c(m)),
        ]
    return df.groupBy(*keys).agg(*aggs)


def merge_state(
    state: DataFrame, delta_state: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Fold one partial state into another: union + re-aggregate.

    Each state column merges by an aggregate of itself (count/sum by
    sum, min by min, max by max) — the groups-sized shuffle is the
    whole cost, independent of how much raw data either state
    summarizes.
    """
    measures = sorted(
        {c[len("sum_"):] for c in state.columns if c.startswith("sum_")}
    )
    aggs = [F.sum(_N).alias(_N)]
    for m in measures:
        aggs += [
            F.sum(_sum_c(m)).alias(_sum_c(m)),
            F.min(_min_c(m)).alias(_min_c(m)),
            F.max(_max_c(m)).alias(_max_c(m)),
        ]
    return (
        state.unionByName(delta_state, allowMissingColumns=False)
        .groupBy(*keys)
        .agg(*aggs)
    )


def incremental_rollup(
    state: DataFrame | None,
    delta: DataFrame,
    keys: Sequence[str],
    measures: Sequence[str],
) -> DataFrame:
    """Apply a raw delta batch to the current state (None = bootstrap).

    Returns the new state; call :func:`finalize` for the user-facing
    rollup with derived averages.
    """
    d = partial_state(delta, keys, measures)
    if state is None:
        return d
    return merge_state(state, d, keys)


def finalize(state: DataFrame, measures: Sequence[str]) -> DataFrame:
    """User-facing view of the state: per-measure sum/min/max/avg."""
    out = state
    for m in measures:
        out = out.withColumn(
            f"avg_{m}", F.col(_sum_c(m)) / F.col(_N)
        )
    return out


def join_delta(
    delta_a: DataFrame,
    prev_a: DataFrame | None,
    delta_b: DataFrame,
    prev_b: DataFrame | None,
    on: str | Sequence[str],
) -> DataFrame:
    """One maintenance step of an incrementally-materialized inner
    join — the join counterpart of the rollup state above. For
    insert-only deltas the bag algebra is exact:

        Δ(A ⋈ B) = ΔA ⋈ B_prev  ∪  A_prev ⋈ ΔB  ∪  ΔA ⋈ ΔB

    so the materialized join advances by appending this delta — the
    accumulated base tables are JOINED against but never re-joined
    with each other. At 100 TB that is the whole point: each step
    costs |Δ| ⋈ |state| with the delta side broadcast-or-skew-joined,
    instead of |A| ⋈ |B| from scratch. With the state tables bucketed
    on the join key (sources/versioned.py), the Δ-vs-state probes are
    shuffle-free on the state side.

    ``prev_a``/``prev_b`` are the bases BEFORE this step (None ⇒
    empty). Returns only the NEW joined rows; append them to the
    materialized result.
    """
    keys = [on] if isinstance(on, str) else list(on)
    parts = []
    if prev_b is not None:
        parts.append(delta_a.join(prev_b, keys))
    if prev_a is not None:
        parts.append(prev_a.join(delta_b, keys))
    parts.append(delta_a.join(delta_b, keys))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
