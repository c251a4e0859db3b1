"""Join operators (SURVEY §2.4).

Spark has no Polars-style ``suffix=`` argument, so the engine provides
suffix-aware equi-joins (J1/J2), semi/anti wrappers (J3/J4), and a
broadcast lookup join (J5 scale path). All are thin, declarative
compositions — Catalyst/AQE picks broadcast vs sort-merge.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def join_with_suffix(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    suffix: str = "_modeled",
) -> DataFrame:
    """Equi-join renaming right-side non-key columns with ``suffix``.

    Mirrors ``df_raw.join(df_modeled, on=id, suffix='_modeled')``
    (/root/reference/src/log_handler.py:50). Unlike Polars (which only
    suffixes on collision), every right non-key column is suffixed —
    deterministic schemas regardless of input column drift.
    """
    keys = [on] if isinstance(on, str) else list(on)
    renamed = right.select(
        *[
            F.col(c).alias(c if c in keys else f"{c}{suffix}")
            for c in right.columns
        ]
    )
    return left.join(renamed, on=keys, how=how)


def semi_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Rows of ``left`` whose key exists in ``right`` (J3)."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Rows of ``left`` whose key is absent from ``right`` (J4)."""
    return left.join(right, on=on, how="left_anti")


def lookup_join(
    df: DataFrame,
    lookup: DataFrame,
    key: str,
    lookup_key: str,
    value_col: str,
    out_col: str,
) -> DataFrame:
    """Broadcast left join against a small dimension (J5 scale path:
    the 21-entry dict of transformation_layer.py:13-34 generalized to
    lookup tables too big for a map literal but far below a shuffle)."""
    dim = lookup.select(
        F.col(lookup_key).alias(key), F.col(value_col).alias(out_col)
    )
    return df.join(F.broadcast(dim), on=key, how="left")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """As-of join: for each left row, the values of the latest right
    row with ``right_ts <= left_ts`` within the same key group (the
    time-series join Spark lacks natively; DuckDB spells it ASOF JOIN).

    Scale-first implementation — union + single window pass, NOT a
    range cross-join: tag both sides, union them, sort each key group
    by (ts, tag) and carry the last right ROW forward. Exactly one
    shuffle (the window partition), cost O(n log n) per key group, no
    candidate blowup on dense right sides. Ties (right_ts == left_ts)
    match, because the right row sorts first at equal ts (tag 0 < 1).

    The carried payload is a single struct of all ``value_cols`` — one
    ``last(ignorenulls)`` over a non-null struct per right row — so a
    legitimately-NULL value on the latest right row is preserved (a
    per-column ``last(value, ignorenulls=True)`` would skip it and
    resurrect an older non-null value, diverging from true ASOF
    semantics), and all emitted values come from the SAME right row.
    """
    from pyspark.sql import Window

    keys = [on] if isinstance(on, str) else list(on)
    rtypes = dict(right.dtypes)
    # typed NULL struct (when with no otherwise): last(ignorenulls)
    # skips left rows but never a right row, even with null fields
    null_struct = F.when(
        F.lit(False),
        F.struct(
            *[F.lit(None).cast(rtypes[c]).alias(c) for c in value_cols]
        ),
    )
    r = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        F.struct(*[F.col(c).alias(c) for c in value_cols]).alias("__rv"),
        *[
            F.lit(None).alias(f"__l_{c}")
            for c in left.columns
            if c not in keys and c != left_ts
        ],
    )
    l = left.select(  # noqa: E741
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        null_struct.alias("__rv"),
        *[
            F.col(c).alias(f"__l_{c}")
            for c in left.columns
            if c not in keys and c != left_ts
        ],
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = r.unionByName(l).select(
        *keys,
        "__ts",
        "__tag",
        *[F.col(f"__l_{c}") for c in left.columns if c not in keys and c != left_ts],
        F.last("__rv", ignorenulls=True).over(w).alias("__rv"),
    )
    out_left = [
        F.col(f"__l_{c}").alias(c)
        for c in left.columns
        if c not in keys and c != left_ts
    ]
    out_right = [F.col("__rv").getField(c).alias(c) for c in value_cols]
    return (
        carried.filter(F.col("__tag") == 1)
        .select(*keys, F.col("__ts").alias(left_ts), *out_left, *out_right)
    )


def temporal_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    fact_ts: str,
    attr_cols: Sequence[str],
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Fact-to-SCD2 temporal join: each fact row gets the dimension
    attributes that were valid AT its event time — the row with the
    latest ``valid_from <= fact_ts`` whose ``valid_to`` (exclusive;
    NULL = open) has not passed. Left-join semantics: facts falling
    in a validity GAP (the key vanished and was later re-inserted)
    or before the key's first version get NULL attributes — the
    correctness case a plain as-of join silently gets wrong (it
    carries the expired row through the gap).

    Scale shape: ``asof_join``'s union + ONE window pass (one
    shuffle, O(n log n) per key group), then a narrow expiry
    projection — never the naive range join
    ``ON k AND ts >= valid_from AND ts < valid_to`` whose candidate
    fan-out multiplies by history length at 100 TB. ``fact_ts`` and
    the validity bounds must share a comparable type (ISO-8601
    strings or timestamps — the caller picks one and the comparison
    is then engine-agnostic)."""
    vcols = [*attr_cols, valid_from, valid_to]
    j = asof_join(fact, dim, on, fact_ts, valid_from, vcols)
    expired = F.col(valid_to).isNotNull() & (
        F.col(fact_ts) >= F.col(valid_to)
    )
    keep = [c for c in j.columns if c not in vcols]
    dtypes = dict(j.dtypes)
    return j.select(
        *keep,
        *[
            F.when(~expired, F.col(c))
            .otherwise(F.lit(None).cast(dtypes[c]))
            .alias(c)
            for c in vcols
        ],
    )


def latest_snapshot(
    df: DataFrame,
    partition_by: Sequence[str],
    order_col: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Newest row per key (S8/O2 generalized: sort-by-createdTime-desc
    take-first, /root/reference/src/extraction_layer.py:35-36).

    row_number over a window — one shuffle on ``partition_by``; fine
    while keys are high-cardinality and balanced. For low-cardinality
    or Zipfian keys use ``latest_snapshot_agg`` (two-phase max_by) —
    window skew is unsplittable, aggregation skew combines map-side.

    Nulls in ``order_col`` sort last. Ties pick an arbitrary row unless
    ``tiebreak`` columns (compared descending, after ``order_col``)
    decide them.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*partition_by).orderBy(
        *[F.col(c).desc() for c in (order_col, *tiebreak)]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_snapshot_agg(
    df: DataFrame,
    partition_by: Sequence[str],
    order_col: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Skew-hardened newest-row-per-key: ``max_by`` AGGREGATION
    instead of a row_number window.

    The window form shuffles EVERY row of a key into one task and
    sorts there; with low-cardinality or Zipfian keys that task is the
    job, and AQE cannot split window skew. An aggregate runs in two
    phases: partial max_by inside each input partition (the hot key
    collapses to one row per upstream partition BEFORE the shuffle),
    then a final merge — shuffled volume is keys × upstream-partition
    count, independent of per-key row counts. Same S8/O2 semantics
    (newest file wins, /root/reference/src/extraction_layer.py:35-36).

    ``max_by`` picks an arbitrary winner among order ties; pass
    ``tiebreak`` columns (compared descending, after ``order_col``) to
    make the winner deterministic — the struct comparison is
    lexicographic, so (order_col, *tiebreak) must uniquely identify a
    row for exact parity with ``latest_snapshot``'s sort."""
    keys = list(partition_by)
    others = [c for c in df.columns if c not in keys]
    order_expr = (
        F.struct(F.col(order_col), *[F.col(c) for c in tiebreak])
        if tiebreak
        else F.col(order_col)
    )
    packed = df.groupBy(*keys).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in others]), order_expr
        ).alias("__row")
    )
    return packed.select(
        *keys, *[F.col("__row").getField(c).alias(c) for c in others]
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Interval containment join: point rows matched to interval rows
    with ``lo <= point < hi`` (another join Spark has no native
    operator for; DuckDB plans it as a range join).

    Small interval side (dimension bands, calendars): broadcast — each
    task streams its points against the in-memory interval list, no
    shuffle of the big side. For interval tables too large to
    broadcast use ``bucketed_range_join``.
    """
    p = F.col(point_col)
    return points.join(
        F.broadcast(intervals), (p >= F.col(lo_col)) & (p < F.col(hi_col))
    )


def bucketed_range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    bucket_width: float = 1.0,
) -> DataFrame:
    """Scale-path interval join: both sides keyed by coarse bucket.

    Each interval explodes into the buckets it overlaps
    (``sequence(floor(lo/W), floor((hi-ε)/W))``), points map to one
    bucket — the join becomes an equi-join on ``__bucket`` (shuffle
    hash join, AQE-skew-splittable), with the exact range predicate as
    a post-filter. Fan-out = interval_len/W per interval row; pick W
    near the median interval length so it's O(1). This is the standard
    large-large range-join decomposition (equi-prefilter + residual).
    """
    w = float(bucket_width)
    p = F.col(point_col)
    ibuckets = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / w).cast("long"),
                F.floor((F.col(hi_col) - F.lit(1e-9)) / w).cast("long"),
            )
        ),
    )
    pbuckets = points.withColumn("__bucket", F.floor(p / w).cast("long"))
    return (
        pbuckets.join(ibuckets, "__bucket")
        .filter((p >= F.col(lo_col)) & (p < F.col(hi_col)))
        .drop("__bucket")
    )


def grouped_topk(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    salt_col: str,
    pre_buckets: int = 16,
    rank_col: str | None = "rank",
) -> DataFrame:
    """Skew-safe per-group top-k: two-phase ranking (generalizes
    ``latest_snapshot_agg`` from k=1 to arbitrary k).

    The single-window form (``row_number over (partition by g order by
    ...)``  ≤ k) shuffles EVERY row of a group into one task and sorts
    the whole group there — on Zipfian group keys that task is the
    job, and AQE cannot split window skew. Instead:

    - phase 1 ranks within ``(group, salt)`` sub-partitions, where
      salt = hash(salt_col) mod ``pre_buckets`` — a hot group spreads
      over ``pre_buckets`` window partitions — and keeps only the
      top k per sub-partition (every phase-2 winner is a top-k row of
      its own sub-partition, so this drops no answer);
    - phase 2 re-ranks the ≤ k·pre_buckets survivors per group — a
      window over a bounded input, independent of group size.

    Output is identical to the single-window form provided
    ``order_by`` is a total order within each group (add a unique
    tie-break column — rankings with ties are not deterministic in
    ANY engine). ``rank_col=None`` drops the rank from the output.
    ``salt_col`` must be deterministic per row (an id column);
    engine-portability of the salt does not matter — it never leaves
    the plan.
    """
    keys = list(partition_by)
    salt = F.pmod(F.xxhash64(F.col(salt_col).cast("string")), pre_buckets)
    w1 = Window.partitionBy(*keys, "__salt").orderBy(*order_by)
    w2 = Window.partitionBy(*keys).orderBy(*order_by)
    out = (
        df.withColumn("__salt", salt)
        .withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
        .withColumn("__r2", F.row_number().over(w2))
        .filter(F.col("__r2") <= k)
    )
    if rank_col is None:
        return out.drop("__salt", "__r1", "__r2")
    return (
        out.withColumn(rank_col, F.col("__r2").cast("long"))
        .drop("__salt", "__r1", "__r2")
    )
