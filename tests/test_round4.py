"""Round-4 operators: skew-safe grouped top-k, boilerplate n-grams,
temperature (alpha) sampling, logistic quality classifier — plus the
TIMESTAMP_NTZ loader regression."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from fbs_data_pipelines_spark.operators.joins import grouped_topk
from fbs_data_pipelines_spark.operators.ml import (
    logistic_score,
    logistic_train,
)
from fbs_data_pipelines_spark.operators.quality import boilerplate_ngram_stats
from fbs_data_pipelines_spark.operators.sampling import (
    BUCKETS,
    alpha_sample,
    sample_bucket,
)


# --- TIMESTAMP_NTZ loader regression ------------------------------------

def test_loader_normalizes_timestamp_ntz(spark, sf_dir):
    """events.parquet carries timestamp[us] with isAdjustedToUTC=false;
    under inferTimestampNTZ (Spark 4 default) a vanilla session reads
    TIMESTAMP_NTZ, which rejects bigint casts. The contract loader
    must hand every query a plain timestamp column."""
    import __spark_entry__ as entry

    prev = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", None)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try:
        raw = spark.read.parquet(f"{sf_dir}/events.parquet")
        assert dict(raw.dtypes)["ts"] == "timestamp_ntz"  # the hazard exists
        df = entry._t(spark, sf_dir, "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        # the round-3 failure mode: epoch arithmetic on ts
        n = df.select(F.col("ts").cast("long").alias("s")).filter(
            F.col("s") > 0
        ).count()
        assert n == df.count()
        # and the actual failing query end-to-end
        out = entry.q_sessionize(spark, sf_dir)
        assert out.count() > 0
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.parquet.inferTimestampNTZ.enabled", prev
            )


# --- grouped_topk --------------------------------------------------------

@pytest.fixture(scope="module")
def skewed(spark):
    # group 'hot' has 400 rows, 'a'/'b' have 5 each — Zipf-ish
    rows = [("hot", i, float(i % 97)) for i in range(400)]
    rows += [("a", 1000 + i, float(i)) for i in range(5)]
    rows += [("b", 2000 + i, float(i)) for i in range(5)]
    return spark.createDataFrame(rows, "g string, id long, v double")


def test_grouped_topk_matches_single_window(spark, skewed):
    from pyspark.sql import Window

    order = [F.col("v").desc(), F.col("id").asc()]
    got = grouped_topk(skewed, ["g"], order, k=3, salt_col="id")
    w = Window.partitionBy("g").orderBy(*order)
    want = (
        skewed.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
    )
    assert sorted(got.collect()) == sorted(want.collect())


def test_grouped_topk_k_exceeds_group(spark, skewed):
    got = grouped_topk(
        skewed.filter(F.col("g") != "hot"),
        ["g"],
        [F.col("v").desc(), F.col("id")],
        k=10,
        salt_col="id",
    )
    # k > group size: every row survives, ranks are 1..5 per group
    assert got.count() == 10
    ranks = [
        r["rank"] for r in got.filter(F.col("g") == "a").collect()
    ]
    assert sorted(ranks) == [1, 2, 3, 4, 5]


def test_grouped_topk_rank_col_none(spark, skewed):
    got = grouped_topk(
        skewed, ["g"], [F.col("v").desc(), F.col("id")], k=1,
        salt_col="id", rank_col=None,
    )
    assert got.columns == skewed.columns
    assert got.count() == 3  # one winner per group


# --- boilerplate n-grams -------------------------------------------------

def test_boilerplate_ngram_stats(spark):
    # 10 docs share the header bigram "acme corp"; one unique doc
    rows = [(i, f"acme corp item {i} unique tail {i}") for i in range(10)]
    rows.append((99, "totally different words here"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = boilerplate_ngram_stats(
        df, "doc_id", "text", n=2, min_doc_frac=0.5
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    # "acme corp" and "corp item" appear in 10/11 docs ≥ 50% → boiler
    assert by_id[0]["n_boiler_grams"] >= 2
    assert by_id[99]["n_boiler_grams"] == 0
    assert by_id[99]["boiler_frac"] == 0.0
    for r in out:
        assert 0.0 <= r["boiler_frac"] <= 1.0
        assert r["n_boiler_grams"] <= r["n_distinct_grams"]


def test_boilerplate_short_docs_dropped(spark):
    df = spark.createDataFrame(
        [(1, "one"), (2, "two words here")], "doc_id long, text string"
    )
    out = boilerplate_ngram_stats(df, "doc_id", "text", n=2,
                                  min_doc_frac=0.9)
    # doc 1 has no bigram → not scored (same as the SQL oracle)
    assert [r["doc_id"] for r in out.collect()] == [2]


# --- alpha sampling ------------------------------------------------------

@pytest.fixture(scope="module")
def unbalanced(spark):
    rows = [(i, "big") for i in range(1000)]
    rows += [(10_000 + i, "small") for i in range(100)]
    return spark.createDataFrame(rows, "id long, lang string")


def test_alpha_sample_deterministic(unbalanced):
    a = alpha_sample(unbalanced, "lang", "id", alpha=0.5, target_rows=200)
    b = alpha_sample(unbalanced, "lang", "id", alpha=0.5, target_rows=200)
    assert sorted(a.collect()) == sorted(b.collect())


def test_alpha_sample_flattens(unbalanced):
    """alpha<1 upsamples rare strata relative to their natural share:
    the small stratum's keep-RATE must exceed the big stratum's."""
    out = alpha_sample(
        unbalanced, "lang", "id", alpha=0.5, target_rows=200
    )
    kept = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert kept["small"] / 100 > kept["big"] / 1000
    # and the total lands near the target (hash-mod binomial noise)
    total = sum(kept.values())
    assert 120 <= total <= 280


def test_alpha_sample_alpha1_is_uniform_fraction(unbalanced):
    """alpha=1 degenerates to a single global fraction: every
    stratum's threshold is target/total — identical keep rule to
    deterministic_sample, so the selected ids must coincide."""
    out = alpha_sample(
        unbalanced, "lang", "id", alpha=1.0, target_rows=550, salt="s"
    )
    frac = 550 / 1100
    want = unbalanced.filter(
        sample_bucket("id", "s") < F.floor(F.lit(frac * BUCKETS))
    )
    assert sorted(r["id"] for r in out.collect()) == sorted(
        r["id"] for r in want.collect()
    )


# --- logistic classifier -------------------------------------------------

@pytest.fixture(scope="module")
def separable(spark):
    # y=1 iff x1 > 0.5; linearly separable in x1
    rows = [(i, (i % 100) / 100.0, float((i * 7) % 10) / 10.0,
             1.0 if (i % 100) / 100.0 > 0.5 else 0.0)
            for i in range(400)]
    return spark.createDataFrame(rows, "id long, x1 double, x2 double, y double")


def test_logistic_train_deterministic(separable):
    w1 = logistic_train(separable, ["x1", "x2"], "y", lr=1.0, iters=3)
    w2 = logistic_train(separable, ["x1", "x2"], "y", lr=1.0, iters=3)
    assert w1 == w2
    assert len(w1) == 3


def test_logistic_learns_separation(separable):
    w = logistic_train(separable, ["x1", "x2"], "y", lr=2.0, iters=10)
    scored = logistic_score(separable, ["x1", "x2"], w)
    m = scored.groupBy("y").agg(F.avg("score").alias("s")).collect()
    mean = {r["y"]: r["s"] for r in m}
    assert mean[1.0] > mean[0.0] + 0.1  # positives score higher
    for r in scored.select("score").collect():
        assert 0.0 <= r["score"] <= 1.0


def test_logistic_gradient_direction(separable):
    """One step from w=0 must move the x1 weight positive (x1
    correlates with y) — the sign check that catches a flipped
    gradient."""
    w = logistic_train(separable, ["x1"], "y", lr=1.0, iters=1)
    assert w[1] > 0


# --- shared token spans --------------------------------------------------

def test_shared_span_exact_length(spark):
    from fbs_data_pipelines_spark.operators.dedup import shared_span_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two gamma delta epsilon zeta nine ten"),
            (3, "totally unrelated words in this document here"),
        ],
        "doc_id long, text string",
    )
    out = shared_span_pairs(
        docs, "doc_id", "text", n=2, min_span_tokens=3
    ).collect()
    # docs 1&2 share exactly "gamma delta epsilon zeta" = 4 tokens
    assert len(out) == 1
    r = out[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["span_tokens"] == 4
    assert r["n_spans"] == 1


def test_shared_span_two_runs_and_threshold(spark):
    from fbs_data_pipelines_spark.operators.dedup import shared_span_pairs

    docs = spark.createDataFrame(
        [
            (1, "a b c d q w e r t y u i"),
            (2, "a b c d z z e r t y u i"),
        ],
        "doc_id long, text string",
    )
    out = shared_span_pairs(
        docs, "doc_id", "text", n=2, min_span_tokens=4
    ).collect()
    # two disjoint shared runs: "a b c d" (4) and "e r t y u i" (6)
    assert len(out) == 1
    assert out[0]["span_tokens"] == 6
    assert out[0]["n_spans"] == 2


def test_shared_span_occurrence_valve(spark):
    from fbs_data_pipelines_spark.operators.dedup import shared_span_pairs

    # "x y" appears in every doc — with the valve at 2 occurrences the
    # boilerplate shingle is dropped and no pair qualifies
    docs = spark.createDataFrame(
        [(i, f"x y unique{i} tail{i}") for i in range(5)],
        "doc_id long, text string",
    )
    strict = shared_span_pairs(
        docs, "doc_id", "text", n=2, min_span_tokens=2, max_occurrences=2
    )
    loose = shared_span_pairs(
        docs, "doc_id", "text", n=2, min_span_tokens=2
    )
    assert strict.count() == 0
    assert loose.count() == 10  # all C(5,2) pairs share "x y"


# --- plan shapes (the 100 TB contracts) ----------------------------------

def _final_plan(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_alpha_sample_corpus_never_shuffles(spark, unbalanced):
    """The corpus side must be a broadcast-joined FILTER — the only
    exchanges in the plan belong to the tiny strata histogram."""
    out = alpha_sample(unbalanced, "lang", "id", alpha=0.5,
                       target_rows=200)
    plan = _final_plan(out)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan
    # no sort-merge join: the corpus is never co-partitioned
    assert "SortMergeJoin" not in plan


def test_boilerplate_join_back_is_broadcast(spark):
    rows = [(i, f"acme corp item {i} unique tail {i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = boilerplate_ngram_stats(df, "doc_id", "text", n=2,
                                  min_doc_frac=0.5)
    plan = _final_plan(out)
    # the bounded boilerplate vocabulary joins back as a broadcast,
    # never a shuffled join of the exploded gram table
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_grouped_topk_no_single_group_sort(spark, skewed):
    """Phase-1 must window over (group, salt): the executed plan
    carries a window partitioned by the salt column, proving the hot
    group is spread over pre_buckets sub-partitions before any
    whole-group operation."""
    out = grouped_topk(skewed, ["g"], [F.col("v").desc(), F.col("id")],
                       k=2, salt_col="id", pre_buckets=8)
    plan = _final_plan(out)
    assert "__salt" in plan  # salted phase-1 window present
    assert plan.count("Window") >= 2  # both phases are windows


def test_shared_spans_window_key_includes_diag(spark):
    from fbs_data_pipelines_spark.operators.dedup import shared_span_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "z b c d e y")],
        "doc_id long, text string",
    )
    out = shared_span_pairs(docs, "doc_id", "text", n=2,
                            min_span_tokens=2)
    plan = _final_plan(out)
    # the run window partitions by (pair, diag) — 'diag' must appear
    # in the plan's window spec, keeping partitions finer than pairs
    assert "diag" in plan


# --- scale-safe perplexity bucketing -------------------------------------

def test_ppl_quantile_buckets_matches_ntile_on_unique_scores(spark):
    """On tie-free scores the threshold split equals ntile's
    equal-count split — proving the scale-safe form loses nothing
    when scores are distinct."""
    from pyspark.sql import Window
    from fbs_data_pipelines_spark.operators.lm import ppl_quantile_buckets

    rows = [(g, i, float(hash((g, i)) % 9973))
            for g in ("en", "fr") for i in range(90)]
    df = spark.createDataFrame(rows, "lang string, id long, log_ppl double")
    got = ppl_quantile_buckets(df, "lang", "log_ppl", n_buckets=3)
    w = Window.partitionBy("lang").orderBy("log_ppl", "id")
    want = df.withColumn("bucket", F.ntile(3).over(w).cast("long"))
    g = {(r["lang"], r["id"]): r["bucket"] for r in got.collect()}
    e = {(r["lang"], r["id"]): r["bucket"] for r in want.collect()}
    assert g == e


def test_ppl_quantile_buckets_no_window_no_smj(spark):
    from fbs_data_pipelines_spark.operators.lm import ppl_quantile_buckets

    rows = [("en", i, float(i)) for i in range(50)]
    df = spark.createDataFrame(rows, "lang string, id long, log_ppl double")
    out = ppl_quantile_buckets(df, "lang", "log_ppl")
    plan = _final_plan(out)
    assert "Window" not in plan      # the whole point
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


# --- shared spans vs brute force (property) ------------------------------

def _longest_common_token_run(a: list, b: list) -> int:
    best = 0
    for i in range(len(a)):
        for j in range(len(b)):
            k = 0
            while i + k < len(a) and j + k < len(b) and a[i + k] == b[j + k]:
                k += 1
            best = max(best, k)
    return best


def test_shared_spans_equal_bruteforce_lcs(spark):
    """shared_span_pairs' max span must equal the DP longest common
    token run for every pair — over a batch of adversarial small docs
    (tiny alphabet → dense repeats, the hard case for run logic)."""
    import random

    from fbs_data_pipelines_spark.operators.dedup import shared_span_pairs

    rng = random.Random(42)
    docs = [
        (i, " ".join(rng.choice("abc") for _ in range(rng.randint(2, 12))))
        for i in range(12)
    ]
    n = 2
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["span_tokens"]
        for r in shared_span_pairs(
            df, "doc_id", "text", n=n, min_span_tokens=n
        ).collect()
    }
    toks = {i: t.split(" ") for i, t in docs}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            want = _longest_common_token_run(toks[i], toks[j])
            if want >= n:
                assert got.get((i, j)) == want, (i, j, got.get((i, j)), want)
            else:
                assert (i, j) not in got


# --- incremental (batch-vs-corpus) dedup ---------------------------------

def test_incremental_dedup_drops_seen_and_in_batch(spark):
    from fbs_data_pipelines_spark.operators.dedup import (
        dedup_exact,
        incremental_dedup,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "hello world")],
        "doc_id long, text string",
    )
    seen = dedup_exact(corpus, "doc_id", ["text"]).select("content_hash")
    batch = spark.createDataFrame(
        [
            (10, "Hello, WORLD!"),        # dup of seen (normalized)
            (11, "fresh new content"),
            (12, "fresh new content"),    # in-batch dup of 11
            (13, "another fresh one"),
        ],
        "doc_id long, text string",
    )
    out = incremental_dedup(batch, seen, "doc_id", ["text"])
    assert sorted(r["doc_id"] for r in out.collect()) == [11, 13]


def test_incremental_dedup_state_loop(spark, tmp_path):
    """Two sequential ingests against a VersionedTable hash store:
    batch 2 must not re-admit anything batch 1 admitted."""
    from fbs_data_pipelines_spark.operators.dedup import incremental_dedup
    from fbs_data_pipelines_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "hash_state"))
    empty = spark.createDataFrame([], "content_hash string")
    vt.commit(empty)

    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    fresh1 = incremental_dedup(b1, vt.read(), "doc_id", ["text"])
    assert fresh1.count() == 2
    vt.commit(vt.read().union(fresh1.select("content_hash")))

    b2 = spark.createDataFrame(
        [(3, "ALPHA beta!"), (4, "epsilon zeta")], "doc_id long, text string"
    )
    fresh2 = incremental_dedup(b2, vt.read(), "doc_id", ["text"])
    assert sorted(r["doc_id"] for r in fresh2.collect()) == [4]
    vt.commit(vt.read().union(fresh2.select("content_hash")))
    assert vt.read().count() == 3


# --- observation-instrumented expectations -------------------------------

def test_observed_expectations_ride_the_main_job(spark, tmp_path):
    from fbs_data_pipelines_spark.operators import expectations as X

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, None, 50.0), (2, "c", -1.0)],
        "id long, name string, v double",
    )
    checks = [
        X.not_null("name"),
        X.in_range("v", 0.0, 100.0),
    ]
    inst, obs = X.observed(df, checks)
    # the ONLY job: a real write action (no separate validation scan)
    inst.write.mode("overwrite").parquet(str(tmp_path / "out"))
    report = X.check(obs, checks)
    by = {r["check_name"]: r for r in report}
    assert by["not_null(name)"]["violations"] == 1
    assert by["in_range(v,0.0,100.0)"]["violations"] == 1
    assert not any(r["passed"] for r in report)
    assert int(obs.get["__rows"]) == 3


def test_observed_matches_validate(spark):
    from fbs_data_pipelines_spark.operators import expectations as X

    df = spark.createDataFrame(
        [(i, "x" if i % 7 else None) for i in range(100)],
        "id long, name string",
    )
    checks = [X.not_null("name")]
    want = {
        r["check_name"]: r["violations"]
        for r in X.validate(df, checks).collect()
    }
    inst, obs = X.observed(df, checks)
    inst.count()
    got = {r["check_name"]: r["violations"] for r in X.check(obs, checks)}
    assert got == want


def test_observed_rejects_distinct_checks(spark):
    from fbs_data_pipelines_spark.operators import expectations as X

    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="count-distinct"):
        X.observed(df, [X.unique("id")])


# --- exact-k per-stratum sampling ----------------------------------------

def test_sample_exact_k_counts_and_determinism(spark, unbalanced):
    from fbs_data_pipelines_spark.operators.sampling import sample_exact_k

    a = sample_exact_k(unbalanced, "lang", "id", k=50, salt="e")
    counts = {
        r["lang"]: r["n"]
        for r in a.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"big": 50, "small": 50}
    b = sample_exact_k(unbalanced.repartition(11), "lang", "id", k=50,
                       salt="e")
    assert sorted(a.collect()) == sorted(b.collect())
    # k above stratum size returns the whole stratum
    c = sample_exact_k(unbalanced, "lang", "id", k=500, salt="e")
    got = {
        r["lang"]: r["n"]
        for r in c.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert got == {"big": 500, "small": 100}


def test_observed_metrics_in_streaming_progress(spark, tmp_path):
    """The same contract expressions attach to a STREAMING frame via
    df.observe and surface per-batch in the query progress — one
    definition serves batch and stream (the docstring's claim,
    proven)."""
    import json
    import os

    from fbs_data_pipelines_spark.operators import expectations as X

    tmp = str(tmp_path)
    os.makedirs(f"{tmp}/in")
    with open(f"{tmp}/in/b.csv", "w") as f:
        f.write("id,name\n1,a\n2,\n3,c\n")
    stream = spark.readStream.schema("id long, name string").csv(
        f"{tmp}/in", header=True
    )
    checks = [X.not_null("name")]
    aggs = [
        F.coalesce(F.sum(e.violation.cast("long")), F.lit(0)).alias(f"__c{i}")
        for i, e in enumerate(checks)
    ]
    inst = stream.observe("contract", F.count(F.lit(1)).alias("__rows"), *aggs)
    q = (
        inst.writeStream.format("memory")
        .queryName("obs_stream")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    progresses = [json.loads(p.json) for p in q.recentProgress]
    observed = [
        p["observedMetrics"]["contract"]
        for p in progresses
        if p.get("observedMetrics", {}).get("contract")
    ]
    assert observed, "no batch carried the contract metrics"
    total = sum(m["__rows"] for m in observed)
    bad = sum(m["__c0"] for m in observed)
    assert total == 3 and bad == 1


# --- edge hardening ------------------------------------------------------

def test_alpha_sample_null_stratum_rows_excluded(spark):
    """Null-stratum rows can't join a stratum fraction (equality join
    is null-rejecting) — they are excluded, matching the SQL oracle's
    inner-join semantics."""
    df = spark.createDataFrame(
        [(1, "en"), (2, None), (3, "en")], "id long, lang string"
    )
    out = alpha_sample(df, "lang", "id", alpha=1.0, target_rows=3)
    assert all(r["lang"] is not None for r in out.collect())


def test_grouped_topk_single_bucket_degenerates_to_window(spark, skewed):
    from pyspark.sql import Window

    order = [F.col("v").desc(), F.col("id").asc()]
    got = grouped_topk(skewed, ["g"], order, k=4, salt_col="id",
                       pre_buckets=1)
    w = Window.partitionBy("g").orderBy(*order)
    want = (
        skewed.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 4)
    )
    assert sorted(got.collect()) == sorted(want.collect())


def test_incremental_dedup_normalize_false(spark):
    from fbs_data_pipelines_spark.operators.dedup import (
        dedup_exact,
        incremental_dedup,
    )

    corpus = spark.createDataFrame([(1, "Hello")], "doc_id long, text string")
    seen = dedup_exact(corpus, "doc_id", ["text"], normalize=False).select(
        "content_hash"
    )
    batch = spark.createDataFrame(
        [(2, "Hello"), (3, "hello")], "doc_id long, text string"
    )
    out = incremental_dedup(batch, seen, "doc_id", ["text"],
                            normalize=False)
    # byte-exact mode: case difference is a DIFFERENT document
    assert sorted(r["doc_id"] for r in out.collect()) == [3]


def test_ppl_quantile_buckets_keeps_null_group(spark):
    """A null stratum is a legitimate group: the null-safe join must
    retain its rows (review finding — plain equality dropped them)."""
    from fbs_data_pipelines_spark.operators.lm import ppl_quantile_buckets

    rows = [("en", 1, 1.0), ("en", 2, 2.0), ("en", 3, 3.0),
            (None, 4, 5.0), (None, 5, 6.0), (None, 6, 7.0)]
    df = spark.createDataFrame(rows, "lang string, id long, log_ppl double")
    out = ppl_quantile_buckets(df, "lang", "log_ppl", n_buckets=3)
    assert out.count() == 6
    nulls = {r["id"]: r["bucket"] for r in
             out.filter(F.col("lang").isNull()).collect()}
    assert sorted(nulls) == [4, 5, 6]
    assert set(nulls.values()) == {1, 2, 3}


# --- weighted sampling (A-ES) --------------------------------------------

def test_weighted_sample_k_biases_toward_weight(spark):
    from fbs_data_pipelines_spark.operators.sampling import weighted_sample_k

    rows = [(i, 100.0 if i < 100 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = weighted_sample_k(df, "id", "w", k=100, salt="ws")
    heavy = got.filter(F.col("id") < 100).count()
    # 100 heavy rows (w=100) vs 900 light (w=1): heavy dominates
    assert heavy > 60
    # deterministic and partitioning-independent
    again = weighted_sample_k(df.repartition(17), "id", "w", k=100, salt="ws")
    assert sorted(got.collect()) == sorted(again.collect())


def test_weighted_sample_k_excludes_nonpositive(spark):
    from fbs_data_pipelines_spark.operators.sampling import weighted_sample_k

    df = spark.createDataFrame(
        [(1, 0.0), (2, -5.0), (3, 2.0)], "id long, w double"
    )
    out = weighted_sample_k(df, "id", "w", k=10)
    assert [r["id"] for r in out.collect()] == [3]


def test_weighted_sample_takeordered_plan(spark):
    from fbs_data_pipelines_spark.operators.sampling import weighted_sample_k

    df = spark.createDataFrame(
        [(i, float(i % 7 + 1)) for i in range(500)], "id long, w double"
    )
    out = weighted_sample_k(df, "id", "w", k=5)
    plan = _final_plan(out)
    assert "TakeOrderedAndProject" in plan  # partial top-k, no full sort


def test_approx_percentile_within_rank_error(spark):
    """percentile_approx's accuracy knob: with N=10000 accuracy, the
    rank error is ≤ N_rows/accuracy — the sketch contract a 100 TB
    percentile job relies on instead of a full sort."""
    n = 20_000
    df = spark.range(n).selectExpr("CAST(id AS DOUBLE) AS v")
    acc = 10_000
    got = df.selectExpr(
        f"percentile_approx(v, 0.5, {acc}) AS p50",
        f"percentile_approx(v, 0.99, {acc}) AS p99",
    ).first()
    for p, want in ((got["p50"], 0.5 * n), (got["p99"], 0.99 * n)):
        assert abs(p - want) <= n / acc + 1
