"""Engine-portable sketches (HLL, count-min, priority-sample quantiles,
KMV): accuracy, determinism and state size."""

import pyspark.sql.functions as F
import pytest

from fbs_data_pipelines_spark.operators.sketches import (
    approx_distinct,
    expected_rel_error,
    hll_estimate,
    hll_state,
)


def test_estimate_within_error_bounds(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    got = {
        r.l_returnflag: r.approx_distinct
        for r in approx_distinct(li, ["l_returnflag"], "l_partkey").collect()
    }
    assert set(got) == set(exact)
    for k, e in exact.items():
        # 5 sigma of the theoretical 1.04/sqrt(m) standard error
        assert got[k] == pytest.approx(e, rel=5 * expected_rel_error())


def test_state_is_bounded_and_null_safe(spark):
    df = spark.createDataFrame(
        [(i % 3, str(i)) for i in range(10000)] + [(0, None)],
        "g int, v string",
    )
    st = hll_state(df, ["g"], "v")
    assert st.count() <= 3 * 4096
    est = {r.g: r.approx_distinct for r in hll_estimate(st, ["g"]).collect()}
    for g in (0, 1, 2):
        assert est[g] == pytest.approx(10000 / 3, rel=5 * expected_rel_error())


def test_cms_never_undercounts_and_is_tight(spark, sf_dir):
    from fbs_data_pipelines_spark.operators.sketches import (
        cms_lookup,
        cms_state,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = {
        r.l_suppkey: r.n
        for r in li.groupBy("l_suppkey").agg(F.count("*").alias("n")).collect()
    }
    keys = li.select("l_suppkey").distinct()
    st = cms_state(li, "l_suppkey")
    got = {
        r.l_suppkey: r.approx_count
        for r in cms_lookup(st, keys, "l_suppkey").collect()
    }
    n_total = sum(exact.values())
    for k, e in exact.items():
        assert got[k] >= e  # one-sided error by construction
        assert got[k] <= e + 3 * n_total / 1024  # ~e*N/w bound, slack 3x


def test_cms_absent_key_estimates_small(spark):
    from fbs_data_pipelines_spark.operators.sketches import (
        cms_lookup,
        cms_state,
    )

    df = spark.createDataFrame([(i % 50,) for i in range(5000)], "v long")
    st = cms_state(df, "v")
    missing = spark.createDataFrame([(999999,)], "v long")
    est = cms_lookup(st, missing, "v").collect()[0].approx_count
    # collisions can only contribute e*N/w-ish mass
    assert est <= 3 * 5000 / 1024


# --- bottom-k quantile sketch -------------------------------------------


def test_qsketch_heavy_value_always_sampled(spark):
    """r8 advisor regression: a value holding most of a group's mass
    must be in the sample even when the distinct-value count dwarfs k.
    Priority sampling guarantees it deterministically: priority >= cnt,
    and the threshold tau is (k+1)-th largest, so cnt > tau => kept.
    10_000 unit-count values + one value with cnt=50_000, k=64: the
    uniform-over-distinct-values sample of the old scheme kept the
    heavy value with probability ~k/D ~ 0.6%; the median estimate here
    must BE the heavy value (it spans ranks 5k..55k of 60k)."""
    from fbs_data_pipelines_spark.operators.sketches import (
        approx_quantiles,
        qsketch_state,
    )

    light = spark.range(10_000).select(
        F.lit("g").alias("g"), (F.col("id") * 2).alias("v")
    )
    heavy = spark.range(50_000).select(
        F.lit("g").alias("g"), F.lit(9_999).alias("v").cast("long")
    )
    df = light.unionByName(heavy)
    st = qsketch_state(df, ["g"], "v", k=64)
    kept = {r["value"] for r in st.collect()}
    assert 9_999 in kept
    est = {
        r["q"]: r["approx_value"]
        for r in approx_quantiles(df, ["g"], "v", [0.5], k=64).collect()
    }
    assert est[0.5] == 9_999


def test_qsketch_state_keeps_multiplicity(spark):
    """r7 advisor regression: the state carries each value's full
    multiplicity, so quantiles weigh values by count, not by distinct
    value. 900×0 + 100×100: the median must be 0 (rank 500 of 1000)."""
    from fbs_data_pipelines_spark.operators.sketches import (
        qsketch_quantiles,
        qsketch_state,
    )

    rows = [(i, 0 if i < 900 else 100) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, v long").withColumn(
        "g", F.lit("all")
    )
    st = qsketch_state(df, ["g"], "v", k=64)
    state_rows = {(r["value"], r["cnt"], r["n_total"]) for r in st.collect()}
    assert state_rows == {(0, 900, 1000), (100, 100, 1000)}
    est = {
        r["q"]: r["approx_value"]
        for r in qsketch_quantiles(st, ["g"], [0.5, 0.95]).collect()
    }
    assert est[0.5] == 0     # rank 500 of 1000 falls in the 900×0 mass
    assert est[0.95] == 100  # rank 950 falls in the 100×100 tail


def test_qsketch_state_bounded_and_deterministic(spark, sf_dir):
    from fbs_data_pipelines_spark.operators.sketches import qsketch_state

    df = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderstatus", F.floor(F.col("o_totalprice") * 100).cast("long").alias("v")
    )
    st = qsketch_state(df, ["o_orderstatus"], "v", k=32)
    sizes = {r["o_orderstatus"]: r["n"] for r in
             st.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()}
    # k sample rows + the (k+1)-th threshold carrier
    assert all(n <= 33 for n in sizes.values())
    # deterministic: re-running over a reshuffled input gives the same set
    st2 = qsketch_state(df.repartition(7), ["o_orderstatus"], "v", k=32)
    assert {tuple(r) for r in st.collect()} == {tuple(r) for r in st2.collect()}


def test_qsketch_quantiles_within_rank_error(spark, sf_dir):
    import math

    from fbs_data_pipelines_spark.operators.sketches import approx_quantiles

    df = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.lit("all").alias("g"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    k = 256
    qs = [0.25, 0.5, 0.9]
    est = {
        r["q"]: r["approx_value"]
        for r in approx_quantiles(df, ["g"], "v", qs, k=k).collect()
    }
    vals = sorted(r["v"] for r in df.collect())
    n = len(vals)
    for q in qs:
        # measured rank of the estimate vs 3-sigma binomial rank error
        import bisect

        rank = bisect.bisect_left(vals, est[q]) / (n - 1)
        sigma = math.sqrt(q * (1 - q) / k)
        assert abs(rank - q) <= 3 * sigma, (q, rank, sigma)


# --- KMV / theta sketch (set operations) ----------------------------------


def test_kmv_exact_under_k(spark):
    from fbs_data_pipelines_spark.operators.sketches import (
        kmv_intersect_estimate,
        kmv_state,
    )

    a = spark.range(100).select(F.lit("g").alias("g"), F.col("id").alias("v"))
    b = spark.range(60, 160).select(
        F.lit("g").alias("g"), F.col("id").alias("v")
    )
    sa = kmv_state(a, ["g"], "v", k=256)
    sb = kmv_state(b, ["g"], "v", k=256)
    row = kmv_intersect_estimate(sa, sb, ["g"], k=256).collect()[0]
    # both untruncated: everything is EXACT
    assert (row["est_a"], row["est_b"], row["est_intersection"]) == (
        100.0,
        100.0,
        40.0,
    )


def test_kmv_estimate_and_intersection_accuracy(spark):
    import math

    from fbs_data_pipelines_spark.operators.sketches import (
        kmv_intersect_estimate,
        kmv_state,
    )

    k = 256
    # |A| = 6000, |B| = 6000, |A ∩ B| = 2000
    a = spark.range(6000).select(F.lit("g").alias("g"), F.col("id").alias("v"))
    b = spark.range(4000, 10000).select(
        F.lit("g").alias("g"), F.col("id").alias("v")
    )
    sa = kmv_state(a, ["g"], "v", k=k)
    sb = kmv_state(b, ["g"], "v", k=k)
    row = kmv_intersect_estimate(sa, sb, ["g"], k=k).collect()[0]
    # per-side distinct estimate (k−1)/θ of a truncated state
    for est in (row["est_a"], row["est_b"]):
        assert abs(est - 6000) / 6000 < 4 / math.sqrt(k)  # 4σ
    # intersection error compounds (sample of the overlap at rate θ):
    # allow a loose 1/3 relative band — the point is unbiasedness and
    # determinism, verified exactly by the oracle harness
    assert abs(row["est_intersection"] - 2000) / 2000 < 1 / 3
