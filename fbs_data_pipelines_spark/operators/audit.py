"""Change-data / audit composite operators (SURVEY §2.11 — C1/C2).

The reference's two "crown jewel" functions re-expressed lazily:

- ``authlog_table`` (C1, /root/reference/src/log_handler.py:43-94):
  inner-join raw vs modeled on the PK, OR-fold per-column change
  predicate over audit columns, emit one audit row per changed record
  with run metadata.
- ``merge_snapshot`` (C2, /root/reference/src/log_handler.py:99-128):
  join-based SCD-1 upsert — unchanged rows kept from the published
  side (semi join), new/changed rows taken from the snapshot (anti
  join), all-string alignment, union, sort by PK.

Semantics preserved exactly, including the reference's null handling:
``is_not_null`` guards mean null→value transitions are NOT logged in
C1; in C2 the negated comparison ``~(a != b)`` evaluates to null when
either side is null (Kleene — identical in Polars and Spark), so a
null-vs-value row falls out of the "unchanged" set and is taken from
the snapshot side. Replicated, not "fixed" (SURVEY §7 risk list).

Run-constant values (UUID, modification timestamp) are evaluated ONCE
driver-side and injected as literals — the reference's semantics
(N10/D8: one UUID per run, same value every row; NOT per-row F.uuid()).
"""

from __future__ import annotations

import datetime as _dt
import uuid as _uuid
from collections.abc import Sequence
from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fbs_data_pipelines_spark.functions.cleaning import cast_all_to_string
from fbs_data_pipelines_spark.functions.dates import ts_lit
from fbs_data_pipelines_spark.operators.joins import join_with_suffix


def change_predicate(target_cols: Sequence[str], suffix: str = "_modeled") -> Column:
    """OR-fold of per-column change tests (P4, log_handler.py:55-59):
    both sides non-null AND values differ. Null transitions excluded."""
    tests = [
        F.col(c).isNotNull()
        & F.col(f"{c}{suffix}").isNotNull()
        & (F.col(c) != F.col(f"{c}{suffix}"))
        for c in target_cols
    ]
    return reduce(or_, tests)


def authlog_table(
    df_raw: DataFrame,
    df_modeled: DataFrame,
    log_root: str,
    id_col: str,
    target_cols: Sequence[str],
    run_id: str | None = None,
    run_ts: _dt.datetime | None = None,
) -> DataFrame:
    """C1 — audit-log derivation.

    Returns one row per record whose audit columns changed, with
    interleaved old/new column pairs plus run metadata. ``tipo_cambio``
    is always 'Modificado' under the inner join (the reference's
    Nuevo/Eliminado branches test ``_b``-suffixed ids that never exist
    after a ``_modeled``-suffix join — dead code preserved as a
    constant; see log_handler.py:72-75 note in SURVEY §2.11).
    """
    run_id = run_id if run_id is not None else str(_uuid.uuid4())
    run_ts = run_ts if run_ts is not None else _dt.datetime.now()

    joined = join_with_suffix(df_raw, df_modeled, on=id_col, suffix="_modeled")
    changed = joined.filter(change_predicate(target_cols, "_modeled"))

    cols: list[Column] = [F.col(id_col)]
    for c in target_cols:
        cols.append(F.col(f"{c}_modeled").alias(f"{c}_antiguo"))
        cols.append(F.col(c).alias(f"{c}_nuevo"))
    cols += [
        F.lit(run_id).alias("id_log"),
        # ts_lit, NOT F.lit(datetime): the plain literal converts via
        # the Python process's LOCAL timezone and shifts on non-UTC
        # hosts (found by a TZ=America/Bogota oracle sweep, r15).
        ts_lit(run_ts).alias("fecha_modificacion"),
        F.lit(log_root).alias("fuente_log"),
        F.lit("Modificado").alias("tipo_cambio"),
    ]
    return changed.select(*cols)


def merge_snapshot(
    df_published: DataFrame,
    df_snapshot: DataFrame,
    id_col: str,
    target_cols: Sequence[str],
    rename_map: dict[str, str] | None = None,
    sort_output: bool = True,
) -> DataFrame:
    """C2 — join-based SCD-1 upsert (log_handler.py:99-128).

    unchanged-ids = inner join + not-changed filter + distinct;
    keep published rows for unchanged ids (semi), take snapshot rows
    for everything else (anti); align columns to the snapshot's order,
    cast all to string, union, sort by PK.

    ``sort_output=False`` skips the final PK sort: a global sort is a
    range-partition Exchange plus a boundary-sampling job, ~35-50% of
    the operator's wall-clock (interleaved A/B r17: sf0.1
    0.623 s → 0.287 s, 10× data 1.587 s → 1.118 s), and a consumer
    that needs keyed order re-establishes it anyway (set semantics are
    identical — the merge result is the same multiset of rows).

    At scale: the two joins shuffle on the PK once each; with a
    lakehouse table format this whole function becomes MERGE INTO —
    ``sources/versioned.py`` implements that cutover
    (``VersionedTable.merge``: this merge + atomic pointer commit,
    snapshot isolation, time travel).
    ``rename_map`` reproduces the reference's published-side column
    rename (``fecha_solicitud`` → ``Fecha Radicacion``, :113).
    """
    df_a = df_published
    for old, new in (rename_map or {}).items():
        df_a = df_a.withColumnRenamed(old, new)

    # Single-join plan. The reference's three-join algorithm
    # (unchanged-ids = inner+filter+distinct; semi; anti) assumes the
    # PK is unique per side (it's a keyed upsert). Under that same
    # assumption the merge collapses to ONE right-outer join:
    #   every snapshot row joins its published row (if any);
    #   unchanged  → emit the published side's values,
    #   otherwise  → emit the snapshot side's values;
    #   published-only rows never appear (reference drops them).
    # Same result, one PK shuffle instead of three.
    marked_a = df_a.withColumn("__in_a", F.lit(1))
    # moderate fan-out for a single-split probe side: a one-row-group
    # snapshot scan serializes the whole broadcast-join probe onto one
    # core (interleaved A/B at sf0.1, min/median of 6: 0.53/0.60 s →
    # 0.46/0.53 s at 8-way); no-op whenever the snapshot already has
    # ≥8 splits — any real snapshot at scale
    from fbs_data_pipelines_spark.operators.partitioning import (
        ensure_parallelism,
    )

    probe = ensure_parallelism(df_snapshot, min_partitions=8)
    joined = join_with_suffix(
        probe, marked_a, on=id_col, suffix="_a", how="left"
    )
    unchanged = F.col("__in_a_a").isNotNull() & reduce(
        lambda x, y: x & y,
        [~(F.col(f"{c}_a") != F.col(c)) for c in target_cols],
    )
    column_order = df_snapshot.columns
    out = joined.select(
        *[
            (
                F.col(id_col)
                if c == id_col
                else F.when(unchanged, F.col(f"{c}_a")).otherwise(F.col(c))
            ).alias(c)
            for c in column_order
        ]
    )
    # Sort on the PRE-CAST id, then stringify: for the reference's
    # string PKs (log_handler.py:99 `Radicado`) the cast is an
    # identity so the order is byte-identical to its post-cast sort;
    # for numeric PKs this sorts numerically instead of
    # lexicographically — a cheaper sort (long vs string range
    # partition, measured 0.88s → 0.70s at sf0.1) and the order a
    # keyed-upsert consumer actually expects.
    if sort_output:
        out = out.orderBy(id_col)
    return cast_all_to_string(out)


def audit_from_registry(
    df_raw: DataFrame,
    df_modeled: DataFrame,
    dictionary,
    log_root: str,
    run_id: str | None = None,
    run_ts: _dt.datetime | None = None,
) -> DataFrame:
    """C1 wired to the schema registry, as the reference intended:
    the data dictionary's PK row names the join key and its
    ``Sujeto_auditoria=1`` columns become ``target_cols``
    (/root/reference/etl.py:106-107 + log_handler.py:43-94 — the
    dictionary-driven wiring the reference imports but never connects).
    ``dictionary`` is a ``schema.registry.DataDictionary``."""
    return authlog_table(
        df_raw,
        df_modeled,
        log_root=log_root,
        id_col=dictionary.primary_key(),
        target_cols=dictionary.audit_cols(),
        run_id=run_id,
        run_ts=run_ts,
    )


def scd2_build(
    log: DataFrame,
    key_col: str,
    attr_cols: Sequence[str],
    ts_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Build a Type-2 slowly-changing dimension from a change log —
    the history-keeping counterpart of ``merge_snapshot``'s SCD-1
    (reference keeps only latest state: log_handler.py:99-128; this
    keeps every state with its validity interval).

    For each key ordered by (ts, tiebreak): collapse consecutive
    records whose tracked attributes are unchanged (null-safe
    comparison), then close each surviving version at the next
    version's start. Emits one row per (key, version):
    ``valid_from`` = first ts at that state, ``valid_to`` = next
    state's ts (null while current), ``is_current``.

    Scale shape: two stacked windows over the SAME per-key
    partitioning and ordering — Catalyst plans ONE exchange + ONE
    sort for both (lag for change detection, lead for interval
    close). Per-key frames, no global sort; AQE handles hot keys.
    """
    order = [F.col(ts_col).asc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(key_col).orderBy(*order)
    attrs = F.struct(*[F.col(c) for c in attr_cols])
    changed = ~attrs.eqNullSafe(F.lag(attrs).over(w))
    versions = log.withColumn("__chg", changed).filter("__chg")
    return (
        versions.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
        .select(key_col, *attr_cols, "valid_from", "valid_to", "is_current")
    )


def snapshot_reconcile(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    compare_cols: Sequence[str],
) -> DataFrame:
    """Full-outer snapshot reconciliation — the diff report between
    two versions of a table: every key classified ``added`` (new
    only), ``removed`` (old only), ``changed`` (both sides, any
    compared column differs, null-safe), or ``unchanged``. The
    registered-query counterpart of ``VersionedTable.diff``
    (sources/versioned.py) and the inspection step before
    ``merge_snapshot`` applies a change set.

    Scale shape: ONE full-outer equi-join on the key (both sides
    shuffle once on the same key — co-partitioned) and a null-safe
    struct comparison; no windows, no second pass.
    """
    o = old.select(
        F.col(key_col).alias("__k"),
        F.struct(*[F.col(c) for c in compare_cols]).alias("__old"),
    )
    n = new.select(
        F.col(key_col).alias("__k"),
        F.struct(*[F.col(c) for c in compare_cols]).alias("__new"),
    )
    status = (
        F.when(F.col("__old").isNull(), F.lit("added"))
        .when(F.col("__new").isNull(), F.lit("removed"))
        .when(
            F.col("__old").eqNullSafe(F.col("__new")), F.lit("unchanged")
        )
        .otherwise(F.lit("changed"))
    )
    return o.join(n, "__k", "full_outer").select(
        F.col("__k").alias(key_col), status.alias("status")
    )


def scd2_apply(
    dim: DataFrame,
    snapshot: DataFrame,
    key_col: str,
    attr_cols: Sequence[str],
    run_ts,
    close_missing: bool = False,
) -> DataFrame:
    """Apply a new full snapshot to an EXISTING Type-2 dimension —
    the incremental-maintenance counterpart of ``scd2_build`` (which
    derives history from an event log) and the history-keeping
    counterpart of ``merge_snapshot``'s SCD-1 (reference:
    log_handler.py:99-128 keeps only latest state; this closes the
    superseded version and opens a new one).

    ``dim`` carries ``key_col``, ``attr_cols``, ``valid_from``,
    ``valid_to`` (null while open) and ``is_current``; ``snapshot``
    carries ``key_col`` + ``attr_cols``. For each key:

    - attrs unchanged (null-safe struct compare) → current row kept;
    - attrs changed → current row CLOSED at ``run_ts``, new open row
      with the snapshot's attrs;
    - key only in snapshot → new open row;
    - key only in dim → closed at ``run_ts`` iff ``close_missing``
      (full-snapshot mode), else kept open.

    Closed history rows (``is_current = false``) pass through without
    joining. ``run_ts`` is any literal orderable value — the caller
    picks the validity column type (string dates here keep the
    comparison edge tz-free).

    Scale shape: ONE full-outer equi-join on the key between the
    CURRENT slice and the snapshot (both shuffle once,
    co-partitioned); the up-to-two output rows per joined key are
    emitted in a SINGLE pass via array+filter+inline (a two-branch
    union of the same join would execute the join twice); history is
    a pass-through filter unioned below the join, no window, no
    second corpus pass.
    """
    ts = F.lit(run_ts)
    null_vt = F.lit(None).cast(dim.schema["valid_to"].dataType)
    cur = dim.filter(F.col("is_current"))
    hist = dim.filter(~F.col("is_current"))
    out_fields = [key_col, *attr_cols, "valid_from", "valid_to",
                  "is_current"]

    c = cur.select(
        F.col(key_col).alias("__k"),
        F.struct(*[F.col(a) for a in attr_cols]).alias("__cattr"),
        F.col("valid_from").alias("__vf"),
    )
    s = snapshot.select(
        F.col(key_col).alias("__k"),
        F.struct(*[F.col(a) for a in attr_cols]).alias("__sattr"),
    )
    j = c.join(s, "__k", "full_outer")

    in_dim = F.col("__cattr").isNotNull()
    in_snap = F.col("__sattr").isNotNull()
    changed = in_dim & in_snap & ~F.col("__cattr").eqNullSafe(
        F.col("__sattr")
    )
    closes = changed | (
        (in_dim & ~in_snap) if close_missing else F.lit(False)
    )

    def _row(attr_src, vf, vt, is_cur):
        return F.struct(
            F.col("__k").alias(key_col),
            *[F.col(attr_src)[a].alias(a) for a in attr_cols],
            vf.alias("valid_from"),
            vt.alias("valid_to"),
            is_cur.alias("is_current"),
        )

    old_row = F.when(
        in_dim,
        _row(
            "__cattr",
            F.col("__vf"),
            F.when(closes, ts).otherwise(null_vt),
            ~closes,
        ),
    )
    new_row = F.when(
        changed | (in_snap & ~in_dim),
        _row("__sattr", ts, null_vt, F.lit(True)),
    )
    merged = j.select(
        F.inline(
            F.filter(
                F.array(old_row, new_row), lambda x: x.isNotNull()
            )
        )
    )
    return hist.select(*out_fields).unionByName(merged)
