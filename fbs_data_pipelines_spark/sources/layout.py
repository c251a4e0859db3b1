"""Multi-dimensional data layout (z-order clustering) for scan pruning.

A 100 TB fact table is usually range-partitioned (and min/max-pruned)
on ONE leading dimension; filters on any other dimension still scan
everything. Z-ordering interleaves the bits of several dimensions'
bucket ranks into a single sort key, so files end up clustered in
EVERY participating dimension at once: a selective filter on any of
them touches only the few files whose min/max range covers the value.
This is the layout trick behind Delta/Iceberg ``OPTIMIZE ZORDER BY``
(public algorithm: Morton codes over quantile ranks) re-expressed as
plain DataFrame ops:

1. one ``approxQuantile`` pass computes per-column bucket boundaries
   (equi-depth, so skewed distributions still spread over all buckets);
2. each row's per-column bucket rank is found JVM-side by counting
   boundary crossings in a literal array (no UDF, codegen-friendly);
3. ranks are bit-interleaved into a Morton code with shift/or
   expressions;
4. ``repartitionByRange`` + ``sortWithinPartitions`` on the code
   writes files whose parquet footer min/max stats are tight in every
   z-ordered column.

Scale notes: the quantile pass is one aggregation job (driver gets
``bits``-sized arrays per column, never data); the write is the single
range-exchange any clustered write pays. No step is driver-bound.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fbs_data_pipelines_spark.functions.cleaning import quote_ident

#: floor on the quantile sketch accuracy used for boundary estimation.
#: The effective error is half a bucket width (1 / (2 * n_buckets)) —
#: tight enough that no two adjacent equi-depth boundaries collapse,
#: loose enough to avoid paying for precision the bucketing can't use
#: (r17 A/B at sf0.1, 255 cuts: err 0.001 → 2.07 s, err 1/512 →
#: 1.39 s for the same 255 distinct boundaries).
_QUANTILE_ERR = 0.01

_ZCOL = "__zvalue"


def _value_sql(df: DataFrame, col: str) -> str:
    """SQL text for the numeric view of a column (dates map to days
    since epoch, everything else casts to double directly). The
    quantile pass and the per-row rank expression BOTH build from
    this one string, so the cut units and the ranked units can never
    diverge — the r17 split (cuts through ``datediff``, ranks through
    a bare ``CAST(col AS DOUBLE)``) made any DATE column throw
    ``DATATYPE_MISMATCH`` at plan time because Spark rejects
    date→double casts (r17 advisor item, date-column coverage now in
    tests/test_layout.py)."""
    quoted = quote_ident(col)
    dtype = dict(df.dtypes)[col]
    if dtype == "date":
        return f"CAST(DATEDIFF({quoted}, DATE'1970-01-01') AS DOUBLE)"
    return f"CAST({quoted} AS DOUBLE)"


def _as_double(df: DataFrame, col: str) -> Column:
    """Numeric view of a column for quantile bucketing (dates and
    timestamps map to days/seconds since epoch)."""
    return F.expr(_value_sql(df, col))


def _double_sql(v: float) -> str:
    """SQL double literal that round-trips ``v`` exactly: ``repr`` is
    Python's shortest round-trip rendering and Java's
    ``Double.parseDouble`` reproduces the identical IEEE double; the
    ``D`` suffix forces DoubleType so no DECIMAL coercion sneaks into
    the comparison."""
    if v != v:
        return "CAST('NaN' AS DOUBLE)"
    if v == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if v == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{float(v)!r}D"


def _bucket_rank_sql(value_sql: str, cuts: list[float], leaf=None) -> str:
    """Equi-depth bucket rank in [0, len(cuts)] as SQL text: the
    number of boundaries strictly below the value. Nulls sort to
    bucket 0 so they cluster together instead of scattering.

    The rank is found by a BINARY-SEARCH tree of nested ``CASE``s —
    log2(|cuts|) codegen'd comparisons per row. The previous forms:
    ``F.aggregate`` over a literal boundary array evaluated |cuts|
    interpreted lambda closures per row per column (255 closure evals
    where 8 compiled branches suffice), and the Column-API ``when``
    tree carried ~4·|cuts| py4j round trips at PLAN BUILD time (~2 s
    per 255-cut tree, r17 opt round measurement) — emitting the same
    tree as ONE SQL string hands the whole parse to Catalyst in one
    call. Ranks are identical across all three forms: sorted
    strictly-increasing cuts make "count of cuts < value" equal the
    binary-search insertion point, with Spark's NaN-greatest ordering
    agreeing (NaN > every cut → rank |cuts|); ``CASE WHEN`` ≡
    ``when/otherwise`` and the ``D``-suffixed literals are the same
    IEEE doubles ``F.lit`` carried.

    ``leaf`` (rank int → int) maps each leaf before it becomes a
    literal, letting callers fold a post-processing table lookup
    (e.g. the Morton bit spread) into the tree for free instead of
    re-evaluating the whole tree per output bit. Leaves are emitted
    as BIGINT (callers cast the result to long either way)."""
    if leaf is None:
        leaf = lambda r: r  # noqa: E731

    def search(lo: int, hi: int) -> str:
        # invariant: the true rank lies in [lo, hi]
        if lo == hi:
            return f"{leaf(lo)}L"
        mid = (lo + hi) // 2
        return (
            f"CASE WHEN {value_sql} > {_double_sql(cuts[mid])} "
            f"THEN {search(mid + 1, hi)} ELSE {search(lo, mid)} END"
        )

    return (
        f"CASE WHEN {value_sql} IS NULL THEN {leaf(0)}L "
        f"ELSE {search(0, len(cuts))} END"
    )


def _morton_spread(rank: int, ncols: int, j: int) -> int:
    """Bit i of ``rank`` placed at output bit ``i * ncols + j`` — the
    j-th column's contribution to the interleaved Morton code."""
    out, i = 0, 0
    while rank:
        out |= (rank & 1) << (i * ncols + j)
        rank >>= 1
        i += 1
    return out


def zorder_key(df: DataFrame, cols: Sequence[str], bits: int = 8) -> Column:
    """Morton code over ``cols``: interleaves the ``bits``-bit
    equi-depth bucket ranks of each column. Pure JVM expressions —
    usable directly in ``repartitionByRange``/``sortWithinPartitions``.

    The interleave is folded into the rank search itself: each
    column's binary-search tree returns its rank PRE-SPREAD to the
    Morton bit positions (leaves are literals, so the spread is free
    at plan-build time), and the per-column trees are OR'd. The
    earlier shift/mask loop referenced every rank tree ``bits`` times,
    duplicating each ~2·2^bits-node tree 8× in one expression —
    driver-side analysis/codegen of that ~8k-node tree dominated
    zorder_write's wall-clock (r17 A/B at sf0.1: 22.8 s → 6.0 s with
    identical output; see OPTIMIZATION_r17.md). Here every tree
    appears exactly once: output bit (i * ncols + j) = bit i of rank
    j, so all columns contribute equally at every scale of the key."""
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    err = min(_QUANTILE_ERR, 1.0 / (2 * n_buckets))
    all_cuts = df.select(
        *[_as_double(df, c).alias(c) for c in cols]
    ).approxQuantile(list(cols), probs, err)

    ncols = len(cols)
    parts = [
        F.expr(
            _bucket_rank_sql(
                _value_sql(df, c),
                sorted(set(cuts)),
                leaf=lambda r, j=j: _morton_spread(r, ncols, j),
            )
        ).cast("long")
        for j, (c, cuts) in enumerate(zip(cols, all_cuts))
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), parts).alias(_ZCOL)


def zorder_write(
    df: DataFrame,
    cols: Sequence[str],
    path: str,
    n_files: int = 32,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet clustered by the z-order of ``cols``.

    Files carry tight min/max footer stats in every z-ordered column,
    so Spark's parquet reader (filter pushdown + row-group stats) and
    any lakehouse file-pruning layer skip non-matching files on
    filters over ANY of ``cols`` — not just the leading one.
    """
    z = df.withColumn(_ZCOL, zorder_key(df, cols, bits))
    (
        z.repartitionByRange(n_files, F.col(_ZCOL))
        .sortWithinPartitions(_ZCOL)
        .drop(_ZCOL)
        .write.mode(mode)
        .parquet(path)
    )
