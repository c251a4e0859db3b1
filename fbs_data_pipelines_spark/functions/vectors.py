"""Vector (embedding) column expressions over array<float|double>.

JVM-side higher-order functions — no Python in the hot path. The
embeddings table stores array<float>; everything is computed in double
precision with left-to-right accumulation, which matches DuckDB's
list_* semantics for the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _sql_num(v) -> str:
    """SQL literal that round-trips ``v`` exactly. Doubles use
    ``repr`` (shortest round-trip; Java's parseDouble reproduces the
    identical IEEE bits) with a ``D`` suffix so no DECIMAL coercion
    sneaks in; ints stay bare when they fit INT (matching F.lit's
    int32/int64 inference) and take ``L`` above that."""
    if isinstance(v, bool):
        raise TypeError("lit_array is numeric-only")
    if isinstance(v, int):
        return str(v) if -(2**31) <= v < 2**31 else f"{v}L"
    v = float(v)
    if v != v:
        return "CAST('NaN' AS DOUBLE)"
    if v == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if v == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{v!r}D"


def lit_array(values) -> Column:
    """Literal (possibly nested) numeric array as ONE parsed SQL
    expression. Classic PySpark's ``F.lit(list)`` recursively expands
    to ``array(*[lit(x) ...])`` — one py4j round trip per ELEMENT
    (~270 ms of pure driver time per 32×8 codebook, measured r18;
    the r17 comments claiming lit(list) was a single call were wrong
    on this runtime, r17 advisor item). Emitting the same array as
    SQL text hands the whole build to one parser call (~2 ms) —
    the zorder CASE-tree lesson applied to array literals. Values
    and dtypes are bit-identical to the F.lit form (verified by
    element-wise struct-pack comparison and by dtype equality in
    tests/test_vectors.py); Catalyst constant-folds the parsed
    ``array(...)`` into the same Literal the old build produced."""
    def emit(v) -> str:
        if isinstance(v, (list, tuple)):
            return "array(" + ",".join(emit(x) for x in v) + ")"
        return _sql_num(v)

    if not values:
        return F.lit(values)  # empty: keep F.lit's type inference
    return F.expr(emit(values))


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def dot_product(
    a: Column | str, b: Column | str, dim: int | None = None
) -> Column:
    """Σ aᵢ·bᵢ in double, sequential accumulation.

    With ``dim`` (the exact array length, when the caller knows it
    statically) the sum is ONE ``aggregate`` over a literal index
    array, each step an ``element_at`` multiply-add — half the
    higher-order lambda dispatches of the ``zip_with``+``aggregate``
    form and no intermediate product array (r17 micro-bench, 500k
    rows × 64 dims: 0.43 s → 0.27 s; a fully unrolled 64-term
    codegen chain was measured SLOWER — 1.4 s — plus ~0.5 s of
    driver tree-building per site, so indexed-fold it is).
    Bit-identical results: same left-to-right association (IEEE
    ``0.0 + p₁ ≡ p₁``), per-element float→double widening is exact.
    Caveat: arrays SHORTER than ``dim`` yield null (element_at past
    the end) where the zip form would sum the common prefix — pass
    ``dim`` only when it is the true length."""
    if dim is not None:
        av, bv = _col(a), _col(b)
        return F.aggregate(
            lit_array(list(range(1, dim + 1))),
            F.lit(0.0),
            lambda acc, i: acc
            + F.element_at(av, i).cast("double")
            * F.element_at(bv, i).cast("double"),
        )
    prod = F.zip_with(_as_double(_col(a)), _as_double(_col(b)), lambda x, y: x * y)
    return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str, dim: int | None = None) -> Column:
    """‖a‖₂ in double. ``dim`` switches to the indexed fold exactly
    as in :func:`dot_product` (same bit-identical association, same
    shorter-array caveat)."""
    if dim is not None:
        av = _col(a)
        return F.sqrt(
            F.aggregate(
                lit_array(list(range(1, dim + 1))),
                F.lit(0.0),
                lambda acc, i: acc
                + F.element_at(av, i).cast("double")
                * F.element_at(av, i).cast("double"),
            )
        )
    sq = F.transform(_as_double(_col(a)), lambda x: x * x)
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """cos(a,b) = a·b / (‖a‖‖b‖); null-safe on zero norms."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(None)).otherwise(dot_product(a, b) / denom)


def standardize_embeddings(
    df,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str | None = None,
):
    """Per-dimension z-score normalization — the preconditioning step
    before k-means / PQ / distance workloads when dimensions carry
    different scales (a dominant dimension otherwise owns every
    distance). Dimension stats (mean, population std) are ONE
    posexplode aggregate — dim-count control-plane rows, exactly the
    SQ8 grid pattern — baked back as literal arrays; the
    normalization itself is a narrow ``zip_with`` projection, so the
    corpus never shuffles. Zero-variance dimensions map to 0. Adds
    ``out_col`` (default ``{vec_col}_z``)."""
    from pyspark.sql import functions as F

    vecd = _as_double(_col(vec_col))
    stats = (
        df.select(F.posexplode(vecd).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.avg("x").alias("mu"),
            F.stddev_pop("x").alias("sd"),
        )
        .orderBy("pos")
        .collect()
    )
    mu_arr = lit_array([float(r["mu"]) for r in stats])
    sd_arr = lit_array([float(r["sd"]) for r in stats])
    centered = F.zip_with(vecd, mu_arr, lambda x, m: x - m)
    z = F.zip_with(
        centered,
        sd_arr,
        lambda d, s: F.when(s > 0, d / s).otherwise(F.lit(0.0)),
    )
    return df.withColumn(out_col or f"{vec_col}_z", z)
