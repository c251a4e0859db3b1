"""Mergeable cardinality sketches (HyperLogLog) as pure expressions.

Spark ships ``approx_count_distinct`` (HLL++), but its register layout
is engine-private: the sketch can't be stored, merged across batches
by SQL, or reproduced by another engine for verification. This module
implements the textbook HyperLogLog (Flajolet et al., 2007) from
first principles with engine-portable building blocks — ``md5``,
substring hex→int, ``bin`` bit-length — so the SAME state and the
SAME estimate come out of Spark and of the DuckDB oracle, bit for
bit. That buys three things the built-in can't give:

1. a persistable groups-sized state table (bucket → max rho) that
   composes with ``operators/incremental.py``-style delta maintenance
   (merge = union + max per bucket);
2. cross-engine verifiability (the correctness harness hash-matches
   the estimates);
3. distributed-correct semantics by construction: state building is
   one map-side-combined aggregate; no step sees more than
   |groups| × m rows.

Hash layout per value: md5 hex digest; hex[0:3] (12 bits) picks one of
m=4096 registers, hex[3:15] (48 bits) feeds rho = position of the
leftmost 1-bit (49 if all zero). The standard bias correction and the
small-range linear-counting branch are applied; the large-range
correction is omitted (it matters only near 2^48 distinct values —
beyond any per-group cardinality this engine targets; raise ``p`` /
widen the rho window before that point).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fbs_data_pipelines_spark.functions.vectors import lit_array

#: register-index width in hex chars (12 bits → m = 4096 registers);
#: fixed so the Spark and oracle expressions stay literally parallel
_P_HEX = 3
_M = 1 << (4 * _P_HEX)
#: rho window: 48 bits after the register index
_RHO_HEX = 12
_RHO_BITS = 4 * _RHO_HEX
_ALPHA = 0.7213 / (1 + 1.079 / _M)


def _bucket(col: Column) -> Column:
    h = F.md5(col.cast("string"))
    return F.conv(F.substring(h, 1, _P_HEX), 16, 10).cast("long")


def _rho(col: Column) -> Column:
    h = F.md5(col.cast("string"))
    v = F.conv(F.substring(h, _P_HEX + 1, _RHO_HEX), 16, 10).cast("long")
    # bin() drops leading zeros, so bit-length = length(bin(v)); the
    # all-zero window gets the sentinel rho = w + 1
    return (
        F.when(v == 0, F.lit(_RHO_BITS + 1))
        .otherwise(F.lit(_RHO_BITS + 1) - F.length(F.bin(v)))
        .cast("long")
    )


def hll_state(
    df: DataFrame, group_cols: Sequence[str], col: str
) -> DataFrame:
    """HLL register table: (group…, bucket, max_rho), ≤ 4096 rows per
    group. One map-side-combined aggregate; nulls are skipped (SQL
    COUNT DISTINCT semantics)."""
    c = F.col(col)
    return (
        df.filter(c.isNotNull())
        .select(*group_cols, _bucket(c).alias("bucket"), _rho(c).alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate(
    state: DataFrame, group_cols: Sequence[str]
) -> DataFrame:
    """Estimate per group from the register table.

    Raw estimate alpha·m²/Σ2^(−rho) (absent registers contribute
    2^0 = 1 each), switched to linear counting m·ln(m/V) when the raw
    estimate ≤ 2.5m and empty registers remain — the standard HLL
    small-range regime."""
    present = F.count("*")
    sum_pow = F.sum(F.pow(F.lit(2.0), -F.col("max_rho")))
    agg = state.groupBy(*group_cols).agg(
        present.alias("present"), sum_pow.alias("sum_pow")
    )
    m = F.lit(float(_M))
    empty = m - F.col("present")
    raw = F.lit(_ALPHA) * m * m / (F.col("sum_pow") + empty)
    est = F.when(
        (raw <= 2.5 * m) & (empty > 0), m * F.log(m / empty)
    ).otherwise(raw)
    return agg.select(*group_cols, est.alias("approx_distinct"))


def approx_distinct(
    df: DataFrame, group_cols: Sequence[str], col: str
) -> DataFrame:
    """One-shot grouped distinct-count estimate (state → estimate)."""
    return hll_estimate(hll_state(df, group_cols, col), group_cols)


def expected_rel_error() -> float:
    """Theoretical standard error of the configuration: 1.04/√m."""
    return 1.04 / math.sqrt(_M)


# ---------------------------------------------------------------------------
# Count-min sketch — the frequency-estimate sibling of HLL: same
# engine-portable md5 construction, state mergeable by union+SUM per
# counter, point estimates by min over the d hash rows. Estimates
# never undercount; overcount is bounded by e·N/w with probability
# 1 − e^(−d) (Cormode & Muthukrishnan, 2005).
# ---------------------------------------------------------------------------

#: d independent hash rows × w counters (w from 3 hex chars, mod _CMS_W)
_CMS_D = 4
_CMS_W = 1024


def _cms_bucket(col: Column, row: int) -> Column:
    """Counter index for hash row ``row``: an md5 keyed by the row id,
    folded to [0, w) — the salting trick the MinHash family uses for
    independent hash functions."""
    h = F.md5(F.concat_ws(":", F.lit(str(row)), col.cast("string")))
    return F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(_CMS_W)
    )


def cms_state(df: DataFrame, col: str) -> DataFrame:
    """Count-min state: (hash_row, bucket, cnt), ≤ d·w rows total.

    One explode by d (tiny constant) and one map-side-combined
    aggregate — the counter table is sketch-sized regardless of input.
    """
    c = F.col(col)
    rows = df.filter(c.isNotNull()).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("hash_row"),
                        _cms_bucket(c, r).alias("bucket"),
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("rb")
    )
    return (
        rows.select("rb.hash_row", "rb.bucket")
        .groupBy("hash_row", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cms_lookup(state: DataFrame, keys: DataFrame, col: str) -> DataFrame:
    """Point frequency estimates for every row of ``keys``:
    (col, approx_count) with approx = min over the d hash rows.
    The d-row counter probe broadcasts the sketch — the keys side
    streams, nothing sketch-related shuffles."""
    c = F.col(col)
    probes = keys.select(
        c,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("hash_row"),
                        _cms_bucket(c, r).alias("bucket"),
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("rb"),
    ).select(c, "rb.hash_row", "rb.bucket")
    return (
        probes.join(F.broadcast(state), ["hash_row", "bucket"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("approx_count"))
    )


# ---------------------------------------------------------------------------
# Weighted quantile sketch via deterministic PRIORITY SAMPLING
# (Duffield–Lund–Thorup, "Priority sampling for estimation of
# arbitrary subset sums", JACM 2007) — the rank-estimate sibling of
# HLL/CMS. Per group, each distinct value v with multiplicity cnt(v)
# gets priority p(v) = floor(cnt(v)·2^32 / (h(v)+1)) where h(v) is
# the first-8-hex-chars md5 rank — i.e. cnt/u for a value-determined
# uniform u ∈ (0,1]. The state keeps the k+1 LARGEST priorities; the
# (k+1)-th is the threshold τ, and the k sampled values estimate any
# cumulative weight with Σ max(cnt, τ) over qualifying values —
# unbiased under DLT with near-optimal variance. The property that
# matters here (the r8 advisor's finding): inclusion probability is
# WEIGHT-PROPORTIONAL, so since p(v) ≥ cnt(v) (u ≤ 1), any value
# whose multiplicity exceeds τ is ALWAYS kept — a heavy value holding
# most of a group's mass cannot be absent from the sample, which the
# previous uniform-over-distinct-values bottom-k could not guarantee
# (a 99%-mass value was sampled with probability only k/D).
# With all-unit counts the scheme degenerates to exactly the old
# uniform distinct-value sample (p = 2^32/(h+1) orders by h), keeping
# the ~sqrt(q(1-q)/k) rank error there; under multiplicity skew DLT's
# subset-sum bounds take over.
# Deterministic (u is a pure function of the value — no RNG state),
# engine-portable (md5 + IEEE double division, one rounding per op,
# so DuckDB reproduces the state bit-for-bit), and MERGEABLE over
# disjoint row sets: union + sum counts per (group, value) +
# recompute priorities from the summed counts + re-top-(k+1). The
# merge is EXACT whenever each input state is untruncated (its
# groups' distinct-value counts ≤ k+1 — then states are lossless
# count tables); for truncated inputs it is one-sided: a value can
# only be missed if it was below the cutoff in EVERY input, and any
# value with merged cnt > merged τ is still guaranteed kept — the
# standard weighted-sample merge contract (a count-independent rank,
# which is what made the old merge exact, is exactly what made the
# sample weight-blind; the two guarantees are mutually exclusive).
# Same delta-maintenance shape as the HLL/CMS states — a 100 TB
# corpus maintains per-partition states and merges, never re-scans.
# ---------------------------------------------------------------------------

#: sample size per group: rank error ~ sqrt(0.25/k) ≈ 2.2% at k=512
_QSK_K = 512

#: priority cap before the long cast (keeps cnt·2^32/u inside long
#: range for any realistic multiplicity; both engines apply it
#: BEFORE floor so the doubles stay bit-identical)
_QSK_PCAP = 4.6e18


def _qsk_priority(value: Column, cnt: Column) -> Column:
    """Deterministic DLT priority floor(min(cnt·2^32/(h+1), cap)) as a
    long. h = first 8 md5 hex chars of the value's string form —
    u = (h+1)/2^32 ∈ (0,1] is a value-determined uniform, so
    duplicates of a value share u and the priority is recomputable
    from any correct count (the merge path relies on this). Every op
    (one multiply, one divide, least, floor) rounds once under IEEE
    754, so the DuckDB oracle reproduces the exact long."""
    h = F.conv(
        F.substring(F.md5(value.cast("string")), 1, 8), 16, 10
    ).cast("double")
    return F.floor(
        F.least(
            cnt.cast("double") * F.lit(4294967296.0) / (h + F.lit(1.0)),
            F.lit(_QSK_PCAP),
        )
    ).cast("long")


def qsketch_state(
    df: DataFrame, group_cols: Sequence[str], col: str, k: int = _QSK_K
) -> DataFrame:
    """Priority-sample state: (group…, value, cnt, priority, n_total),
    the ≤ k+1 distinct values with the LARGEST priorities per group,
    each with its full multiplicity. The extra (k+1)-th row is the
    DLT threshold carrier — ``qsketch_quantiles`` reads τ off it.

    One shuffle on the group key: the distinct-value count aggregation
    is map-side combinable, and the per-group top-k window reuses its
    partitioning. The kept set is ≤ k+1 rows per group no matter the
    input size. Nulls are skipped (SQL aggregate semantics).
    ``n_total`` (true group row count) rides along on every state row
    so estimates can report the sampled fraction after merges."""
    c = F.col(col)
    gw = Window.partitionBy(*group_cols)
    w = gw.orderBy(F.col("priority").desc(), F.col("value").asc())
    return (
        df.filter(c.isNotNull())
        .groupBy(*group_cols, c.alias("value"))
        .agg(F.count("*").alias("cnt"))
        .withColumn("priority", _qsk_priority(F.col("value"), F.col("cnt")))
        .withColumn("n_total", F.sum("cnt").over(gw))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k + 1)
        .drop("rn")
    )


def qsketch_quantiles(
    state: DataFrame,
    group_cols: Sequence[str],
    qs: Sequence[float],
    k: int = _QSK_K,
) -> DataFrame:
    """Quantile estimates per group from the priority sample.

    DLT estimator, integer-valued so cross-engine sums are exact
    (mirrored literally by the SQL oracle): a group whose state holds
    exactly k+1 rows was truncated — its lowest-priority row is the
    threshold carrier, τ = that row's priority, and the remaining k
    rows form the sample with estimated weights ŵ = max(cnt, τ)
    (light sampled values are inflated to stand in for the unsampled
    light mass; heavy values keep their exact counts). An
    untruncated state (≤ k rows) IS the complete count table: τ = 0,
    ŵ = cnt, and every estimate is exact. Then sort the sample by
    value; with n = Σ ŵ the q-estimate is the value whose
    cumulative-ŵ interval contains target rank floor(q·(n−1)) + 1 —
    weighted percentile_disc over the estimated weights.
    Output: (group…, q, approx_value) — one row per group × q."""
    gcols = list(group_cols)
    gw = Window.partitionBy(*gcols)
    pw = gw.orderBy(F.col("priority").desc(), F.col("value").asc())
    marked = (
        state.withColumn("rn", F.row_number().over(pw))
        .withColumn("m", F.count("*").over(gw))
        .withColumn(
            "tau",
            F.when(
                F.col("m") == k + 1, F.min("priority").over(gw)
            ).otherwise(F.lit(0)),
        )
        .filter(F.col("rn") <= k)
        .withColumn("w", F.greatest(F.col("cnt"), F.col("tau")))
    )
    vw = Window.partitionBy(*gcols).orderBy(F.col("value").asc())
    ranked = marked.withColumn("cw", F.sum("w").over(vw)).withColumn(
        "n", F.sum("w").over(gw)
    )
    # ONE pass for all quantiles: explode the q list against the ranked
    # sample and keep the value whose weight interval covers the target
    # rank — a per-q union would replay the whole window subtree
    # len(qs) times (measured 7 exchanges vs 2 for this shape).
    exploded = ranked.select(
        *gcols,
        "value",
        "w",
        "cw",
        "n",
        F.explode(lit_array([float(q) for q in qs])).alias("q"),
    ).withColumn("t", F.floor(F.col("q") * (F.col("n") - 1)) + 1)
    return exploded.filter(
        (F.col("cw") >= F.col("t")) & (F.col("cw") - F.col("w") < F.col("t"))
    ).select(*gcols, "q", F.col("value").alias("approx_value"))


def approx_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    col: str,
    qs: Sequence[float],
    k: int = _QSK_K,
) -> DataFrame:
    """One-shot grouped quantile estimates (state → estimates)."""
    return qsketch_quantiles(
        qsketch_state(df, group_cols, col, k), group_cols, qs, k
    )


# ---------------------------------------------------------------------------
# KMV / theta sketch — the SET-OPERATIONS sibling of HLL: keep the k
# MINIMUM 48-bit value hashes per group (Bar-Yossef et al. 2002
# "Counting distinct elements in a data stream"; the theta-sketch
# framing of Dasgupta et al.). HLL estimates |A| and |A ∪ B| (its
# registers max-merge) but CANNOT estimate |A ∩ B|; a KMV state is a
# uniform coordinated sample of the value-hash space below a
# threshold θ, so two states INTERSECT: common hashes below
# min(θ_a, θ_b) are an unbiased sample of A ∩ B at a KNOWN sampling
# rate — |A ∩ B| ≈ |common < θ| / θ, rel. error ~ 1/sqrt(k).
# Deterministic (hash of the value, no RNG), engine-portable (md5
# 12-hex window → 48-bit long, exact in both engines' integers), and
# EXACTLY mergeable over any inputs (union-distinct + re-bottom-k:
# hash is value-determined, so the union's bottom-k is contained in
# the per-input bottom-k's — dedup on hash also makes merge
# idempotent, no disjointness contract needed, unlike counters).
# ---------------------------------------------------------------------------

#: KMV hash-space size: 12 md5 hex chars = 48 bits (exact in a long
#: and in DuckDB's BIGINT; collision prob ~ D²/2^49, negligible at
#: any per-group cardinality this engine targets)
_KMV_SPACE = float(1 << 48)
_KMV_K = 256


def _kmv_hash(col: Column) -> Column:
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 12), 16, 10
    ).cast("long")


def kmv_state(
    df: DataFrame, group_cols: Sequence[str], col: str, k: int = _KMV_K
) -> DataFrame:
    """KMV state: (group…, hv) — the ≤ k smallest distinct 48-bit
    value hashes per group. One shuffle (distinct is map-side
    combinable; the bottom-k window reuses its partitioning). Nulls
    are skipped (COUNT DISTINCT semantics)."""
    c = F.col(col)
    w = Window.partitionBy(*group_cols).orderBy(F.col("hv").asc())
    return (
        df.filter(c.isNotNull())
        .select(*group_cols, _kmv_hash(c).alias("hv"))
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def kmv_intersect_estimate(
    a: DataFrame,
    b: DataFrame,
    group_cols: Sequence[str],
    k: int = _KMV_K,
) -> DataFrame:
    """|A ∩ B| estimate per group from two KMV states (theta-sketch
    intersection): θ = min(θ_a, θ_b) where θ_x = k-th smallest hash
    when truncated else 2^48 (full space); hashes common to both
    states with hv < θ are a coordinated uniform sample of A ∩ B at
    rate θ/2^48, so the estimate is |common < θ| · 2^48 / θ — EXACT
    when both states are untruncated. Groups present in only one
    input report 0 (empty intersection). Output: (group…, est_a,
    est_b, est_intersection)."""
    gcols = list(group_cols)

    def theta(state: DataFrame, name: str) -> DataFrame:
        return state.groupBy(*gcols).agg(
            F.count("*").alias(f"m_{name}"),
            F.max("hv").alias(f"max_{name}"),
        ).select(
            *gcols,
            F.col(f"m_{name}"),
            F.when(
                F.col(f"m_{name}") < k, F.lit(float(_KMV_SPACE))
            )
            .otherwise(F.col(f"max_{name}").cast("double"))
            .alias(f"theta_{name}"),
        )

    th = theta(a, "a").join(theta(b, "b"), gcols, "full")
    th = th.select(
        *gcols,
        F.least(
            F.coalesce(F.col("theta_a"), F.lit(float(_KMV_SPACE))),
            F.coalesce(F.col("theta_b"), F.lit(float(_KMV_SPACE))),
        ).alias("theta"),
        "m_a",
        "m_b",
        "theta_a",
        "theta_b",
    )
    common = a.join(b, [*gcols, "hv"]).groupBy(*gcols).agg(
        F.collect_list("hv").alias("_hvs")
    )
    # count common hashes under theta without a second join pass:
    # states are ≤ k rows/group, the collected list is tiny
    joined = th.join(common, gcols, "left").select(
        *gcols,
        "theta",
        "m_a",
        "m_b",
        "theta_a",
        "theta_b",
        F.coalesce(
            F.size(
                F.filter(F.col("_hvs"), lambda h: h < F.col("theta"))
            ),
            F.lit(0),
        ).alias("n_common"),
    )
    est_a = F.when(
        F.col("m_a") < k, F.col("m_a").cast("double")
    ).otherwise(F.lit(float(k - 1)) * F.lit(_KMV_SPACE) / F.col("theta_a"))
    est_b = F.when(
        F.col("m_b") < k, F.col("m_b").cast("double")
    ).otherwise(F.lit(float(k - 1)) * F.lit(_KMV_SPACE) / F.col("theta_b"))
    est_i = F.col("n_common") * F.lit(_KMV_SPACE) / F.col("theta")
    return joined.select(
        *gcols,
        F.round(F.coalesce(est_a, F.lit(0.0)), 4).alias("est_a"),
        F.round(F.coalesce(est_b, F.lit(0.0)), 4).alias("est_b"),
        F.round(est_i, 4).alias("est_intersection"),
    )
