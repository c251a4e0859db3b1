"""Round-5 additions: first-seen admission, budget_sample thinning
interplay, gate-rotation registry invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from fbs_data_pipelines_spark.operators.dedup import first_seen_batch


def test_first_seen_batch_admits_first_arrival_per_key(spark):
    df = spark.createDataFrame(
        [(1, "u1", "a"), (2, "u2", "b"), (3, "u1", "c"), (4, "u2", "d")],
        "event_id long, user_id string, payload string",
    )
    out = {
        r.user_id: (r.event_id, r.payload)
        for r in first_seen_batch(df, "user_id", "event_id").collect()
    }
    assert out == {"u1": (1, "a"), "u2": (2, "b")}


def test_first_seen_state_loop_matches_one_shot(spark):
    # replaying in batches with carried state (the q_first_seen shape)
    # must equal the one-shot window over the full log — the property
    # that makes the three-batch replay exactly-once per key
    rows = [(i, f"u{i % 7}", float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "event_id long, user_id string, v double")
    one_shot = {
        (r.user_id, r.event_id)
        for r in first_seen_batch(df, "user_id", "event_id").collect()
    }

    seen = None
    admitted = set()
    for lo, hi in [(0, 13), (13, 26), (26, 40)]:
        batch = df.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        first = first_seen_batch(batch, "user_id", "event_id")
        if seen is not None:
            first = first.join(seen, "user_id", "left_anti")
        admitted |= {(r.user_id, r.event_id) for r in first.collect()}
        keys = batch.select("user_id").distinct()
        seen = keys if seen is None else seen.unionByName(keys).distinct()
    assert admitted == one_shot
    # 7 distinct users → 7 admissions, all from the first batch here
    assert len(admitted) == 7


def test_first_seen_batch_plan_has_no_global_sort(spark):
    # per-key window ⇒ hash-partitioned sort within partitions, never a
    # single-range global sort (the property that survives 100 TB)
    df = spark.createDataFrame(
        [(1, "u1")], "event_id long, user_id string"
    )
    out = first_seen_batch(df, "user_id", "event_id")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" in plan


def test_gate_window_entries_all_have_oracles():
    import __spark_entry__ as e

    names = list(e.queries())
    oracles = e.oracle_sql()
    window = names[:50]
    missing = [n for n in window if n not in oracles]
    assert missing == [], missing
    # the round-5 rotation actually landed: every never-driver-gated
    # query named in the round-4 review either sits in the CURRENT
    # window or already holds green driver evidence from a past round
    # (rotation-agnostic — the window composition changes every round,
    # the evidence record doesn't; r7 rotated these OUT after their
    # r5+r6 green rows)
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import ledger_check

    evidence = ledger_check.driver_evidence()
    rotated = {
        "incremental_dedup", "canonical_docs", "weighted_sample",
        "source_overlap", "ppl_buckets", "recursive_cte", "lateral_topn",
        "sql_nested_semi", "budget_sample", "sparse_cosine", "funnel",
        "retention", "salted_join", "bloom_join", "zorder_layout",
        "streaming_rollup", "json_extract", "first_seen",
    }
    unaccounted = {
        n for n in rotated if n not in set(window) and not evidence.get(n)
    }
    assert unaccounted == set(), unaccounted
    assert len(names) == len(set(names))


def test_semantic_dedup_drops_higher_id_near_neighbors(spark):
    from fbs_data_pipelines_spark.caching import release_cache
    from fbs_data_pipelines_spark.operators.similarity import semantic_dedup

    rows = [
        (1, [1.0, 0.0]),        # kept: lowest id of its pair
        (2, [0.999, 0.01]),     # cos(1,2) ~ 1.0 -> dropped
        (3, [0.0, 1.0]),        # kept
        (4, [0.0, 1.0]),        # exact dup of 3 -> dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, "vec_id", "embedding", k=2, n_iter=2,
                         threshold=0.8)
    res = {r.vec_id: (r.cluster, r.kept) for r in out.collect()}
    release_cache(out)
    assert {i for i, (_, kept) in res.items() if kept} == {1, 3}
    # near-dup pairs ended up co-clustered (the property the drop
    # decision depends on)
    assert res[1][0] == res[2][0] and res[3][0] == res[4][0]


def test_semantic_dedup_pair_join_is_cluster_keyed(spark):
    # scale proof: the pair stage joins on the cluster id — the plan
    # must contain an equi-join, never a cartesian product
    from fbs_data_pipelines_spark.caching import release_cache
    from fbs_data_pipelines_spark.operators.similarity import semantic_dedup

    df = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    out = semantic_dedup(df, "vec_id", "embedding", k=2, n_iter=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    release_cache(out)
    assert "CartesianProduct" not in plan


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from fbs_data_pipelines_spark.operators.sampling import budget_sample


@settings(
    max_examples=8,  # each example runs several Spark jobs
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sizes=st.lists(st.integers(min_value=0, max_value=50), min_size=1,
                   max_size=60),
    budget_a=st.integers(min_value=0, max_value=800),
    budget_b=st.integers(min_value=0, max_value=200),
)
def test_budget_sample_thinning_is_result_exact(spark, sizes, budget_a, budget_b):
    # property: the bucket-cutoff pre-thinning NEVER changes the kept
    # set, for any size distribution and any budget (including 0 and
    # budgets larger than the stratum total)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fbs_data_pipelines_spark.operators.sampling import sample_bucket

    rows = [(i, "a" if i % 3 else "b", int(s)) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, src string, n long")
    budgets = {"a": budget_a, "b": budget_b}

    thr = F.when(F.col("src") == "a", budget_a).when(F.col("src") == "b", budget_b)
    w = (
        Window.partitionBy("src")
        .orderBy(sample_bucket("doc_id"), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = (
        df.withColumn("__b", thr)
        .filter(F.col("__b").isNotNull())
        .withColumn("__c", F.sum("n").over(w))
        .filter(F.col("__c") <= F.col("__b"))
    )
    expect = sorted(r.doc_id for r in naive.collect())
    got = sorted(
        r.doc_id
        for r in budget_sample(
            df, "src", budgets, key_col="doc_id", size_col="n"
        ).collect()
    )
    assert got == expect


def test_mixture_interleave_prefix_proportions(spark):
    from fbs_data_pipelines_spark.operators.sampling import mixture_interleave

    rows = [(i, "a") for i in range(40)] + [(100 + i, "b") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = mixture_interleave(df, "src", {"a": 2.0, "b": 1.0}, "doc_id")
    got = sorted(
        (r.global_pos, r.src, r.doc_id) for r in out.collect()
    )
    # dense 1..N positions, no duplicates
    assert [p for p, _, _ in got] == list(range(1, 61))
    # stride scheduling: every prefix of length 3k holds exactly 2k
    # a-rows and k b-rows (virtual times interleave 0.5,1,1,1.5,2,2,...)
    for k in (1, 5, 10):
        prefix = got[: 3 * k]
        assert sum(1 for _, s, _ in prefix if s == "a") == 2 * k
        assert sum(1 for _, s, _ in prefix if s == "b") == k


def test_mixture_interleave_salt_reshuffles_within_stratum(spark):
    from fbs_data_pipelines_spark.operators.sampling import mixture_interleave

    rows = [(i, "a") for i in range(30)] + [(100 + i, "b") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    e0 = mixture_interleave(df, "src", {"a": 1.0, "b": 1.0}, "doc_id", salt="0")
    e1 = mixture_interleave(df, "src", {"a": 1.0, "b": 1.0}, "doc_id", salt="1")
    o0 = [(r.global_pos, r.doc_id) for r in e0.collect()]
    o1 = [(r.global_pos, r.doc_id) for r in e1.collect()]
    # a different epoch salt produces a different order...
    assert sorted(o0) != sorted(o1)
    # ...but the mixture is preserved: equal weights alternate strictly
    by_pos0 = {p: d for p, d in sorted(o0)}
    srcs = ["a" if by_pos0[p] < 100 else "b" for p in sorted(by_pos0)]
    assert srcs == ["a", "b"] * 30
    # and each epoch is itself deterministic
    o0_again = [(r.global_pos, r.doc_id) for r in
                mixture_interleave(df, "src", {"a": 1.0, "b": 1.0},
                                   "doc_id", salt="0").collect()]
    assert sorted(o0) == sorted(o0_again)


def test_mixture_interleave_rejects_nonpositive_weight(spark):
    import pytest as _pytest

    from fbs_data_pipelines_spark.operators.sampling import mixture_interleave

    df = spark.createDataFrame([(1, "a")], "doc_id long, src string")
    with _pytest.raises(ValueError):
        mixture_interleave(df, "src", {"a": 0.0}, "doc_id")


# ---------------------------------------------------------------------------
# paragraph_dedup
# ---------------------------------------------------------------------------


def _pd_rows(spark, rows, **kw):
    from fbs_data_pipelines_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        r.doc_id: (r.clean_text, r.n_kept, r.n_removed)
        for r in paragraph_dedup(df, "doc_id", "text", **kw).collect()
    }


def test_paragraph_dedup_keeps_first_occurrence_corpus_wide(spark):
    out = _pd_rows(
        spark,
        [
            (1, "alpha\nshared\nbeta"),
            (2, "shared\ngamma"),
            (3, "gamma\ndelta\nshared"),
        ],
    )
    # 'shared' survives only in doc 1 (smallest doc_id), 'gamma' only
    # in doc 2; everything else untouched, order preserved
    assert out[1] == ("alpha\nshared\nbeta", 3, 0)
    assert out[2] == ("gamma", 1, 1)
    assert out[3] == ("delta", 1, 2)


def test_paragraph_dedup_within_doc_repeats_collapse(spark):
    out = _pd_rows(spark, [(7, "x\ny\nx\nx\nz")])
    assert out[7] == ("x\ny\nz", 3, 2)


def test_paragraph_dedup_short_segments_exempt(spark):
    # min_chars=2: ''/1-char segments are structure — kept verbatim in
    # every doc, never deduped
    out = _pd_rows(
        spark,
        [(1, "aa\n\nbb"), (2, "aa\n\nbb\n")],
        min_chars=2,
    )
    assert out[1] == ("aa\n\nbb", 3, 0)
    # doc 2: 'aa' and 'bb' removed (dupes of doc 1); both ''
    # segments kept verbatim → two empties joined by one sep
    assert out[2] == ("\n", 2, 2)


def test_paragraph_dedup_all_removed_doc_survives_empty(spark):
    out = _pd_rows(spark, [(1, "only"), (2, "only")])
    assert out[1] == ("only", 1, 0)
    assert out[2] == ("", 0, 1)


def test_paragraph_dedup_literal_separator_not_regex(spark):
    # sep is literal: '.' must split on dots, not on every character
    out = _pd_rows(spark, [(1, "ab.cd.ab")], sep=".")
    assert out[1] == ("ab.cd", 2, 1)


def test_paragraph_dedup_first_owner_is_aggregation_not_window(spark):
    # the corpus-wide first-owner must come from a map-side-combined
    # min(struct) aggregation; a Window over the segment hash would
    # serialize mega-duplicated boilerplate into one task at scale.
    # The only Window allowed in the plan is... none.
    from fbs_data_pipelines_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(i, f"seg{i % 3}\ncommon") for i in range(20)],
        "doc_id long, text string",
    )
    plan = (
        paragraph_dedup(df, "doc_id", "text")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "Window" not in plan
    # and the owner side really aggregates (partial min over the hash)
    assert "Aggregate" in plan


# ---------------------------------------------------------------------------
# triangle_count
# ---------------------------------------------------------------------------


def _tri(spark, pairs):
    from fbs_data_pipelines_spark.operators.graph import triangle_count

    df = spark.createDataFrame(pairs, "src long, dst long")
    return triangle_count(df).collect()[0]


def test_triangle_count_golden(spark):
    # K4 minus one edge: {1,2,3,4} complete except (3,4) → 2 triangles
    r = _tri(
        spark,
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)],
    )
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 5, 2)


def test_triangle_count_complete_graph(spark):
    import itertools

    n = 7
    r = _tri(spark, list(itertools.combinations(range(n), 2)))
    assert r.n_triangles == n * (n - 1) * (n - 2) // 6
    assert (r.n_nodes, r.n_edges) == (n, n * (n - 1) // 2)


def test_triangle_count_canonicalizes_input(spark):
    # duplicates, reversed orientation, and self-loops must not change
    # the count
    r = _tri(
        spark,
        [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (5, 5), (1, 2)],
    )
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (3, 3, 1)


def test_triangle_count_triangle_free(spark):
    # star graph: hub with 5 leaves — lots of wedges, zero triangles
    r = _tri(spark, [(0, i) for i in range(1, 6)])
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (6, 5, 0)


# ---------------------------------------------------------------------------
# DSIR importance resampling
# ---------------------------------------------------------------------------


def _dsir_parts(spark):
    from fbs_data_pipelines_spark.operators.dsir import (
        dsir_bucket_ratios,
        dsir_scores,
    )

    rows = [(i, "alpha beta gamma alpha beta") for i in range(10)] + [
        (i, "zulu yankee xray zulu yankee") for i in range(10, 20)
    ]
    raw = spark.createDataFrame(rows, "doc_id long, text string")
    target = raw.filter("doc_id < 10")
    ratios = dsir_bucket_ratios(raw, target, "text", n_buckets=64)
    scores = dsir_scores(raw, ratios, "doc_id", "text", n_buckets=64)
    return raw, ratios, scores


def test_dsir_target_like_docs_score_higher(spark):
    _, _, scores = _dsir_parts(spark)
    s = {r.doc_id: r.dsir_score for r in scores.collect()}
    target_like = min(s[i] for i in range(10))
    off_target = max(s[i] for i in range(10, 20))
    assert target_like > off_target


def test_dsir_ratio_table_is_bucket_sized(spark):
    _, ratios, _ = _dsir_parts(spark)
    # the distribution estimate reduces to EXACTLY n_buckets rows no
    # matter the corpus size — that bound is the scale contract
    assert ratios.count() == 64


def test_dsir_zero_gram_doc_scores_zero(spark):
    from fbs_data_pipelines_spark.operators.dsir import (
        dsir_bucket_ratios,
        dsir_scores,
    )

    raw = spark.createDataFrame(
        [(1, "some words here"), (2, "")], "doc_id long, text string"
    )
    ratios = dsir_bucket_ratios(raw, raw, "text", n_buckets=32)
    out = {r.doc_id: (r.dsir_score, r.n_grams)
           for r in dsir_scores(raw, ratios, "doc_id", "text",
                                n_buckets=32).collect()}
    assert out[2] == (0.0, 0)
    assert out[1][1] == 5  # 3 unigrams + 2 bigrams


def test_dsir_resample_deterministic_k(spark):
    from fbs_data_pipelines_spark.operators.dsir import dsir_resample

    _, _, scores = _dsir_parts(spark)
    a = [r.doc_id for r in dsir_resample(scores, "doc_id", k=5).collect()]
    b = [r.doc_id for r in dsir_resample(scores, "doc_id", k=5).collect()]
    assert a == b and len(a) == 5
    # a different salt re-randomizes the draw but not the cardinality
    c = [r.doc_id
         for r in dsir_resample(scores, "doc_id", k=5, salt="e2").collect()]
    assert len(c) == 5


def test_dsir_score_join_is_broadcast(spark):
    # the B-row ratio table must broadcast into the scoring join —
    # a shuffle join there would re-exchange the whole corpus
    _, _, scores = _dsir_parts(spark)
    plan = scores._jdf.queryExecution().optimizedPlan().toString()
    assert "CartesianProduct" not in plan
    ex = scores._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in ex


# ---------------------------------------------------------------------------
# scd2_build
# ---------------------------------------------------------------------------


def _scd2(spark, rows, attrs=("state",), tiebreak="seq"):
    from fbs_data_pipelines_spark.operators.audit import scd2_build

    df = spark.createDataFrame(
        rows, "key string, state string, ts long, seq long"
    )
    return scd2_build(df, "key", list(attrs), "ts", tiebreak_col=tiebreak)


def test_scd2_collapses_unchanged_and_closes_intervals(spark):
    out = _scd2(
        spark,
        [
            ("k", "a", 1, 1),
            ("k", "a", 2, 2),   # unchanged → collapsed
            ("k", "b", 3, 3),   # new version
            ("k", "b", 4, 4),   # unchanged
            ("k", "a", 5, 5),   # back to a → NEW version (not merged)
        ],
    ).collect()
    rows = sorted((r.state, r.valid_from, r.valid_to, r.is_current) for r in out)
    assert rows == [
        ("a", 1, 3, False),
        ("a", 5, None, True),
        ("b", 3, 5, False),
    ]


def test_scd2_null_attr_transitions_are_versions(spark):
    # null → value and value → null are real transitions (null-safe
    # comparison, not SQL-null contagion)
    out = _scd2(
        spark,
        [("k", None, 1, 1), ("k", None, 2, 2), ("k", "x", 3, 3),
         ("k", None, 4, 4)],
    ).collect()
    assert len(out) == 3


def test_scd2_single_exchange_for_both_windows(spark):
    # the lag and lead windows share partitioning+ordering → the plan
    # must contain exactly one Exchange for the window pair
    out = _scd2(
        spark, [("k", "a", 1, 1), ("k", "b", 2, 2)]
    )
    out.collect()
    ex = (
        out._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    n_exchanges = ex.count("Exchange")
    assert n_exchanges <= 1, ex


# ---------------------------------------------------------------------------
# bm25_search
# ---------------------------------------------------------------------------


def test_bm25_ranks_rarer_terms_higher(spark):
    from fbs_data_pipelines_spark.operators.similarity import bm25_search

    # 'rare' appears in 1 of 4 docs, 'common' in all 4; equal tf and
    # doc length → the rare-term doc must outrank any common-only doc
    rows = [
        (1, "rare filler filler"),
        (2, "common filler filler"),
        (3, "common filler filler"),
        (4, "common filler filler"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_search(df, "doc_id", "text", ["rare", "common"])
    ranked = [r.doc_id for r in out.collect()]
    assert ranked[0] == 1
    assert set(ranked) == {1, 2, 3, 4}


def test_bm25_length_normalization(spark):
    from fbs_data_pipelines_spark.operators.similarity import bm25_search

    # same tf for the query term, but doc 2 is much longer → with
    # b > 0 the shorter doc scores strictly higher
    rows = [
        (1, "hit pad"),
        (2, "hit " + " ".join(f"pad{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.bm25 for r in bm25_search(
        df, "doc_id", "text", ["hit"]).collect()}
    assert out[1] > out[2]


def test_bm25_no_match_docs_omitted_topk_respected(spark):
    from fbs_data_pipelines_spark.operators.similarity import bm25_search

    rows = [(i, "hit word" if i % 2 else "miss word") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_search(df, "doc_id", "text", ["hit"], top_k=3)
    rows_out = out.collect()
    assert len(rows_out) == 3
    assert all(r.doc_id % 2 == 1 for r in rows_out)


def test_bm25_topk_is_take_ordered_not_full_sort(spark):
    from fbs_data_pipelines_spark.operators.similarity import bm25_search

    df = spark.createDataFrame(
        [(i, "hit word") for i in range(20)], "doc_id long, text string"
    )
    out = bm25_search(df, "doc_id", "text", ["hit"], top_k=5)
    out.collect()
    ex = (
        out._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "TakeOrderedAndProject" in ex


# ---------------------------------------------------------------------------
# leakage_safe_split
# ---------------------------------------------------------------------------


def test_leakage_safe_split_clusters_never_straddle(spark):
    from fbs_data_pipelines_spark.operators.sampling import (
        leakage_safe_split,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    # three near-dup clusters + singletons
    clusters = spark.createDataFrame(
        [(1, 1), (50, 1), (120, 1), (2, 2), (77, 2), (3, 3), (199, 3)],
        "id long, cluster_id long",
    )
    out = leakage_safe_split(
        docs, "doc_id", clusters, eval_fraction=0.3
    ).collect()
    side = {r.doc_id: r.split for r in out}
    rep = {r.doc_id: r.rep for r in out}
    # all members of a cluster share the representative AND the side
    assert side[1] == side[50] == side[120] and rep[50] == rep[120] == 1
    assert side[2] == side[77] and rep[77] == 2
    assert side[3] == side[199] and rep[199] == 3
    # split is non-degenerate on 200 keys at 30%
    assert {"train", "eval"} == set(side.values())
    # singleton reps are themselves
    assert rep[100] == 100


def test_leakage_safe_split_matches_plain_split_for_singletons(spark):
    from fbs_data_pipelines_spark.operators.sampling import (
        leakage_safe_split,
        train_eval_split,
    )

    docs = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    empty = spark.createDataFrame([], "id long, cluster_id long")
    a = {
        r.doc_id: r.split
        for r in leakage_safe_split(
            docs, "doc_id", empty, eval_fraction=0.2
        ).collect()
    }
    b = {
        r.doc_id: r.split
        for r in train_eval_split(
            docs, "doc_id", eval_fraction=0.2
        ).collect()
    }
    assert a == b


# ---------------------------------------------------------------------------
# pmi_collocations
# ---------------------------------------------------------------------------


def test_pmi_finds_the_planted_phrase(spark):
    import math

    from fbs_data_pipelines_spark.functions.text import pmi_collocations

    # 'hong kong' always adjacent; fillers alternate order so every
    # filler bigram has c_xy = c_x·c_y/(2N)-scale PMI (ln 2) while the
    # planted phrase reaches ln 4 — it must rank first, at exactly the
    # analytic value
    rows = [
        (i, "hong kong " + ("a b" if i % 2 else "b a")) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pmi_collocations(df, "text", min_count=5, top_k=10).collect()
    assert (out[0].x, out[0].y) == ("hong", "kong")
    n_total = 30 * 4
    expect = math.log(30 * n_total / (30 * 30))  # ln 4
    assert abs(out[0].pmi - expect) < 1e-9


def test_pmi_min_count_suppresses_rare_noise(spark):
    from fbs_data_pipelines_spark.functions.text import pmi_collocations

    # a one-off pair has huge PMI but must be cut by min_count
    rows = [(1, "unique onceonly")] + [
        (i, "common pair common pair") for i in range(2, 12)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pmi_collocations(df, "text", min_count=5, top_k=10).collect()
    pairs = {(r.x, r.y) for r in out}
    assert ("unique", "onceonly") not in pairs
    assert ("common", "pair") in pairs


def test_pmi_cut_is_take_ordered(spark):
    from fbs_data_pipelines_spark.functions.text import pmi_collocations

    df = spark.createDataFrame(
        [(i, "a b a b a b") for i in range(10)], "doc_id long, text string"
    )
    out = pmi_collocations(df, "text", min_count=2, top_k=3)
    out.collect()
    ex = (
        out._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "TakeOrderedAndProject" in ex


# ---------------------------------------------------------------------------
# sliding_topk
# ---------------------------------------------------------------------------


def test_sliding_topk_events_land_in_every_overlapping_window(spark):
    import datetime as dt

    from fbs_data_pipelines_spark.operators.events import sliding_topk

    # one event at 05:30 with a 2h window sliding hourly → exactly the
    # 04:00 and 05:00 windows contain it
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 5, 30), "x")], "ts timestamp, k string"
    )
    out = sliding_topk(df, "ts", "k", "2 hours", "1 hour", k=1).collect()
    starts = sorted(r.window_start.strftime("%H:%M") for r in out)
    assert starts == ["04:00", "05:00"]
    assert all(r.n == 1 and r.rank == 1 for r in out)


def test_sliding_topk_rank_and_tiebreak(spark):
    import datetime as dt

    from fbs_data_pipelines_spark.operators.events import sliding_topk

    t = dt.datetime(2024, 1, 1, 10, 10)
    rows = [(t, "a")] * 3 + [(t, "b")] * 3 + [(t, "c")] * 1
    df = spark.createDataFrame(rows, "ts timestamp, k string")
    out = sliding_topk(df, "ts", "k", "1 hour", "1 hour", k=2).collect()
    # tumbling degenerate case: one window; tie a/b broken by key asc
    assert [(r.k, r.n, r.rank) for r in sorted(out, key=lambda r: r.rank)] \
        == [("a", 3, 1), ("b", 3, 2)]


def test_sliding_topk_rank_window_sees_aggregated_frame(spark):
    import datetime as dt

    from fbs_data_pipelines_spark.operators.events import sliding_topk

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 1, 1), f"k{i % 4}") for i in range(40)],
        "ts timestamp, k string",
    )
    out = sliding_topk(df, "ts", "k", "2 hours", "1 hour", k=3)
    out.collect()
    plan = (
        out._jdf.queryExecution().optimizedPlan().toString()
    )
    # aggregation must sit BELOW the rank window in the plan tree
    assert plan.index("Aggregate") > plan.index("Window")


# ---------------------------------------------------------------------------
# review-pass regressions: null inputs, cache release
# ---------------------------------------------------------------------------


def test_paragraph_dedup_null_text_doc_survives(spark):
    from fbs_data_pipelines_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(1, "alpha"), (2, None)], "doc_id long, text string"
    )
    out = {r.doc_id: (r.clean_text, r.n_kept, r.n_removed)
           for r in paragraph_dedup(df, "doc_id", "text").collect()}
    # the null-text doc is an empty document, not a vanished one
    assert set(out) == {1, 2}
    assert out[2][0] == ""


def test_bm25_null_text_does_not_poison_avgdl(spark):
    from fbs_data_pipelines_spark.operators.similarity import bm25_search

    with_null = spark.createDataFrame(
        [(1, "hit pad"), (2, "hit pad"), (3, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.bm25
           for r in bm25_search(with_null, "doc_id", "text",
                                ["hit"]).collect()}
    # both matching docs have identical (tf, dl) → identical score;
    # a -1 dl from size(null) would have corrupted avgdl (and under
    # some layouts made the scores asymmetric or negative-shifted)
    assert out[1] == out[2] and out[1] > 0


def test_triangle_count_releases_its_caches(spark):
    from fbs_data_pipelines_spark.operators.graph import triangle_count

    before = len([
        r for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ])
    df = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    r = triangle_count(df).collect()[0]
    assert r.n_triangles == 1
    after = len([
        r for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ])
    assert after <= before  # no lingering persisted edge frames


# ---------------------------------------------------------------------------
# edit_distance_join / snapshot_reconcile
# ---------------------------------------------------------------------------


def test_edit_distance_join_finds_all_dist1_kinds(spark):
    from fbs_data_pipelines_spark.operators.similarity import (
        edit_distance_join,
    )

    vocab = spark.createDataFrame(
        [("spark",), ("sparc",),   # substitution
         ("sprk",),                # deletion of 'a'
         ("sparks",),              # insertion of 's'
         ("duck",)],               # unrelated
        "tok string",
    )
    out = {(r.tok_a, r.tok_b) for r in
           edit_distance_join(vocab, "tok", min_len=2).collect()}
    assert ("spark", "sparks") in out
    assert ("spark", "sprk") in out
    assert ("sparc", "spark") in out
    assert not any("duck" in p for p in out)


def test_edit_distance_join_rejects_dist2_sharing_a_variant(spark):
    from fbs_data_pipelines_spark.operators.similarity import (
        edit_distance_join,
    )

    # 'ab' and 'ba' share deletion variants {a, b} but levenshtein=2 —
    # the verify pass must kill the candidate
    vocab = spark.createDataFrame([("ab",), ("ba",)], "tok string")
    out = edit_distance_join(vocab, "tok", min_len=2).collect()
    assert out == []


def test_edit_distance_join_has_no_cross_join(spark):
    from fbs_data_pipelines_spark.operators.similarity import (
        edit_distance_join,
    )

    vocab = spark.createDataFrame(
        [(f"token{i}",) for i in range(50)], "tok string"
    )
    out = edit_distance_join(vocab, "tok")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan
    ex = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in ex and "NestedLoop" not in ex


def test_snapshot_reconcile_classifies_all_four(spark):
    from fbs_data_pipelines_spark.operators.audit import snapshot_reconcile

    old = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, "B"), (3, 30.0, "C"), (5, None, "E")],
        "k long, price double, st string",
    )
    new = spark.createDataFrame(
        [(1, 10.0, "A"),          # unchanged
         (2, 21.0, "B"),          # changed (price)
         (4, 40.0, "D"),          # added
         (5, None, "E")],         # unchanged with a NULL field
        "k long, price double, st string",
    )
    out = {r.k: r.status for r in snapshot_reconcile(
        old, new, "k", ["price", "st"]).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "added", 5: "unchanged"}


# ---------------------------------------------------------------------------
# multi-probe LSH
# ---------------------------------------------------------------------------


def test_multiprobe_candidates_superset_of_single_probe(spark):
    from fbs_data_pipelines_spark.operators.similarity import ann_lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    big = 10**6  # no top-k cut: compare raw candidate sets
    single = {(r.query_id, r.neighbor_id) for r in
              ann_lsh_topk(emb, q, k=big, num_planes=6).collect()}
    multi = {(r.query_id, r.neighbor_id) for r in
             ann_lsh_topk(emb, q, k=big, num_planes=6,
                          probe_flips=1).collect()}
    # uncut, multi-probe's candidate set is a strict superset (it
    # scans the same bucket + the 6 one-bit-flip buckets)
    assert single <= multi
    assert len(multi) > len(single)


def test_multiprobe_rejects_unsupported_flips(spark):
    import pytest as _pytest

    from fbs_data_pipelines_spark.operators.similarity import ann_lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.limit(1).select(F.col("vec_id").alias("query_id"), "embedding")
    with _pytest.raises(ValueError):
        ann_lsh_topk(emb, q, probe_flips=2)


# ---------------------------------------------------------------------------
# join_delta (incremental join maintenance)
# ---------------------------------------------------------------------------


def test_join_delta_accumulates_to_full_join(spark):
    from fbs_data_pipelines_spark.operators.incremental import join_delta

    a = spark.createDataFrame(
        [(1, "a1"), (2, "a2"), (3, "a3"), (1, "a1b")], "k long, va string"
    )
    b = spark.createDataFrame(
        [(1, "b1"), (2, "b2"), (2, "b2b"), (4, "b4")], "k long, vb string"
    )
    full = {(r.k, r.va, r.vb) for r in a.join(b, "k").collect()}

    prev_a = prev_b = None
    acc = set()
    for i in range(3):
        da = a.filter(F.crc32(F.col("va")) % 3 == i)
        db = b.filter(F.crc32(F.col("vb")) % 3 == i)
        delta = join_delta(da, prev_a, db, prev_b, "k")
        acc |= {(r.k, r.va, r.vb) for r in delta.collect()}
        prev_a = da if prev_a is None else prev_a.unionByName(da)
        prev_b = db if prev_b is None else prev_b.unionByName(db)
    assert acc == full


def test_join_delta_steps_are_disjoint_bag_pieces(spark):
    # multiplicity correctness: duplicates on both sides — the deltas
    # must sum to the full join AS A BAG, not just as a set
    from collections import Counter

    from fbs_data_pipelines_spark.operators.incremental import join_delta

    a = spark.createDataFrame([(1, "x"), (1, "x")], "k long, va string")
    b = spark.createDataFrame([(1, "y"), (1, "y")], "k long, vb string")
    full = Counter(
        (r.k, r.va, r.vb) for r in a.join(b, "k").collect()
    )
    a1, a2 = a.limit(1), a.limit(1)  # two identical single-row batches
    b1, b2 = b.limit(1), b.limit(1)
    acc = Counter()
    prev_a = prev_b = None
    for da, db in ((a1, b1), (a2, b2)):
        delta = join_delta(da, prev_a, db, prev_b, "k")
        acc.update((r.k, r.va, r.vb) for r in delta.collect())
        prev_a = da if prev_a is None else prev_a.unionByName(da)
        prev_b = db if prev_b is None else prev_b.unionByName(db)
    assert acc == full  # 4 joined rows, multiplicity preserved


def test_join_delta_never_rejoins_the_bases(spark):
    # the plan of a single step must reference prev_a and prev_b only
    # against DELTAS — no prev_a-vs-prev_b join (that is the whole
    # IVM saving). Structural check: with empty deltas the step
    # yields zero rows even though the bases join non-trivially.
    from fbs_data_pipelines_spark.operators.incremental import join_delta

    prev_a = spark.createDataFrame([(1, "a")], "k long, va string")
    prev_b = spark.createDataFrame([(1, "b")], "k long, vb string")
    empty_a = prev_a.limit(0)
    empty_b = prev_b.limit(0)
    out = join_delta(empty_a, prev_a, empty_b, prev_b, "k")
    assert out.count() == 0


# ---------------------------------------------------------------------------
# plan shapes of the TPC-H-shape and map queries
# ---------------------------------------------------------------------------


def _executed(df):
    df.collect()
    return (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )


def test_q19_part_side_broadcasts(spark, sf_dir):
    import __spark_entry__ as e

    ex = _executed(e.queries()["disjunctive_filter"](spark, sf_dir))
    assert "BroadcastHashJoin" in ex and "SortMergeJoin" not in ex


def test_nation_flows_all_dims_broadcast(spark, sf_dir):
    import __spark_entry__ as e

    ex = _executed(e.queries()["nation_flows"](spark, sf_dir))
    # the two nation role-copies are hinted and must broadcast at
    # every SF; supplier/customer are AQE-sized (broadcast at this
    # sf, shuffle at scale) so either physical join is acceptable
    assert ex.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in ex


def test_priority_shipping_single_agg_pass(spark, sf_dir):
    import __spark_entry__ as e

    df = e.queries()["priority_shipping"](spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # both conditional counts live in ONE Aggregate node
    assert opt.count("Aggregate") == 1


def test_map_ops_values_roundtrip_the_map_layer(spark, sf_dir):
    import __spark_entry__ as e

    rows = e.queries()["map_ops"](spark, sf_dir).collect()
    assert rows and all(r.adj_count >= 3 for r in rows)
    # purchase counts really doubled: every purchase entry is even
    assert all(
        r.adj_count % 2 == 0 for r in rows if r.event_type == "purchase"
    )
