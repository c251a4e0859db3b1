"""Unit tests for the LLM-pipeline operators (beyond-reference surface):
text analysis, dedup family, embedding similarity.

Tiny inline fixtures with exact-value asserts (SURVEY §5 strategy),
plus plan-shape assertions that the narrow operators stay shuffle-free
(the property that matters at 100 TB).
"""

import math

import pytest
from pyspark.sql import functions as F

from fbs_data_pipelines_spark.functions.text import (
    doc_fingerprint,
    language_id,
    quality_score,
    text_profile,
    token_count,
    whitespace_token_count,
    word_shingles,
)
from fbs_data_pipelines_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard,
    shingle_table,
    simhash,
    simhash_pairs,
)
from fbs_data_pipelines_spark.operators.similarity import (
    ann_topk_bruteforce,
    embedding_neardup_pairs,
    lsh_bucket,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog today"),
        (2, "The quick brown fox jumps over the lazy dog tonight"),  # near-dup of 1
        (3, "el gato y la casa de la abuela en madrid"),
        (4, "completely different words entirely unrelated content here now"),
        (5, ""),
        (6, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


# --- text analysis ------------------------------------------------------


def test_token_counts(spark, docs):
    r = {
        x.doc_id: (x.bpe, x.ws)
        for x in docs.select(
            "doc_id",
            token_count("text").alias("bpe"),
            whitespace_token_count("text").alias("ws"),
        ).collect()
    }
    assert r[1] == (10, 10)
    assert r[5] == (0, 0)
    assert r[6] == (None, None)


def test_language_id(spark, docs):
    r = {x.doc_id: x.lang for x in docs.select("doc_id", language_id("text").alias("lang")).collect()}
    assert r[1] == "en"
    assert r[3] == "es"
    assert r[4] == "und"  # no stopwords at all
    assert r[5] == "und"


def test_quality_score_bounds(spark, docs):
    vals = [
        x.q
        for x in docs.filter(F.col("text").isNotNull())
        .select(quality_score("text").alias("q"))
        .collect()
    ]
    assert all(0.0 <= v <= 1.0 for v in vals)


def test_fingerprint_normalization_invariance(spark):
    df = spark.createDataFrame(
        [(1, "Hello,  World!"), (2, "hello world"), (3, "HELLO ... world")],
        "id long, text string",
    )
    fps = {r.id: r.fp for r in df.select("id", doc_fingerprint("text").alias("fp")).collect()}
    assert fps[1] == fps[2] == fps[3]
    assert len(fps[1]) == 16


def test_word_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([(1, "only two")], "id long, text string")
    [r] = df.select(word_shingles("text", 3).alias("s")).collect()
    assert r.s == []


def test_text_profile_matches_per_column_helpers(spark, docs):
    prof = {r.doc_id: r.asDict() for r in text_profile(docs, "doc_id", "text").collect()}
    ref = {
        r.doc_id: r.asDict()
        for r in docs.select(
            "doc_id",
            token_count("text").alias("ntok_bpe"),
            whitespace_token_count("text").alias("ntok_ws"),
            language_id("text").alias("lang_pred"),
            quality_score("text").alias("quality"),
            doc_fingerprint("text").alias("fingerprint"),
        ).collect()
    }
    assert prof == ref


# --- dedup --------------------------------------------------------------


def test_dedup_exact_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(3, "same text"), (1, "Same  TEXT!"), (2, "other")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.dup_count for r in dedup_exact(df, "doc_id", ["text"]).collect()}
    assert rows == {1: 2, 2: 1}  # normalized dup collapses to min id


def test_dedup_exact_multicolumn_boundary_unambiguous(spark):
    # ("ab","c") must NOT hash like ("a","bc"): the \x01 separator in
    # _content_key keeps column boundaries part of the content.
    df = spark.createDataFrame(
        [(1, "ab", "c"), (2, "a", "bc")], "doc_id long, t1 string, t2 string"
    )
    out = dedup_exact(df, "doc_id", ["t1", "t2"]).collect()
    assert len(out) == 2 and {r.doc_id for r in out} == {1, 2}


def test_shingle_table_is_narrow(spark, docs):
    plan = shingle_table(docs, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan  # no shuffle: per-doc distinct is array_distinct


def test_minhash_signature_identical_docs_equal(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "x y z w v u t")],
        "doc_id long, text string",
    )
    sig = {r.doc_id: tuple(v for k, v in r.asDict().items() if k.startswith("mh_"))
           for r in minhash_signatures(df, "doc_id", "text", num_hashes=8).collect()}
    assert sig[1] == sig[2]
    assert sig[1] != sig[3]


def test_ngram_jaccard_exact_value(spark):
    # doc1: shingles {a b c, b c d}; doc2: {a b c, b c e} → J = 1/3
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    [r] = ngram_jaccard(df, "doc_id", "text", n=3).collect()
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.jaccard == round(1 / 3, 4)


def test_ngram_jaccard_max_df_kills_hot_shingle_fanout(spark):
    # every doc shares the boilerplate shingle "x y z"; without the
    # cutoff the inverted index emits all C(20,2)=190 candidate pairs,
    # with it only the genuinely-similar pair (1, 2) survives
    rows = [(1, "x y z a b c d"), (2, "x y z a b c e")] + [
        (i, f"x y z u{i} v{i} w{i}") for i in range(3, 21)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    unbounded = ngram_jaccard(df, "doc_id", "text", n=3)
    assert unbounded.count() == 190  # hot shingle → O(n²) fan-out
    cut = ngram_jaccard(df, "doc_id", "text", n=3, max_df=10)
    got = {(r.id_a, r.id_b): r.jaccard for r in cut.collect()}
    # universe without "x y z": doc1 {y z a, z a b, a b c, b c d},
    # doc2 {y z a, z a b, a b c, b c e} → J = 3/5
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == round(3 / 5, 4)


def test_tfidf_plan_no_token_window_single_tokenize(spark):
    # the df side must be an aggregation joined back, never
    # `count(*) over (partition by tok)` — Zipfian token frequency
    # makes that window unsplittable skew at scale. And the
    # tokenize+explode subtree must execute exactly once (persisted
    # tf), not once per df/tf branch.
    import __spark_entry__ as e
    from fbs_data_pipelines_spark.caching import release_cache

    df = e.queries()["tfidf"](spark, "/root/testdata/sf0.001")
    df.collect()  # finalize the AQE plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan_final = plan.split("== Initial Plan ==")[0]
    assert "Window" not in plan_final
    assert plan_final.count("Generate explode") <= 1
    release_cache(df)


def test_release_cache_frees_operator_persists(spark):
    # scoped persists must not outlive consumption: after
    # release_cache the session's CacheManager is empty again, so
    # repeated operator calls can't accumulate executor storage
    from fbs_data_pipelines_spark.caching import release_cache

    cm = spark._jsparkSession.sharedState().cacheManager()
    cm.clearCache()  # isolate from other tests' leftovers
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    for call in (
        lambda: minhash_lsh_pairs(df, "doc_id", "text", num_hashes=4, bands=4),
        lambda: ngram_jaccard(df, "doc_id", "text", n=3, max_df=10),
        lambda: simhash_pairs(df, "doc_id", "text", max_hamming=60),
    ):
        out = call()
        out.collect()
        assert not cm.isEmpty()  # persist was live during consumption
        release_cache(out)
        assert cm.isEmpty(), "operator left cached tables behind"
    release_cache(df)  # no-op on unscoped DataFrames


def test_minhash_lsh_finds_planted_neardup(spark, docs):
    # rows_per_band=1 → candidate iff ANY of the 8 minhashes collide;
    # for J=7/9 that is 1-(2/9)^8 ≈ certain even with only 8 hashes
    pairs = minhash_lsh_pairs(
        docs.filter(F.col("text").isNotNull()),
        "doc_id",
        "text",
        num_hashes=8,
        bands=8,
        threshold=0.5,
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    # exact jaccard verified against the candidate's shingle sets:
    # 8 shingles each, 7 shared → 7/9
    assert pairs[0].jaccard == round(7 / 9, 4)


def test_simhash_is_narrow_and_deterministic(spark, docs):
    d = docs.filter(F.col("text").isNotNull())
    plan = simhash(d, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan  # zero-shuffle narrow map
    a = {r.doc_id: r.simhash for r in simhash(d, "doc_id", "text").collect()}
    b = {r.doc_id: r.simhash for r in simhash(d, "doc_id", "text").collect()}
    assert a == b
    assert 5 not in a  # empty doc → no signature


def test_simhash_pairs_near_vs_far(spark, docs):
    d = docs.filter(F.col("text").isNotNull())
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(d, "doc_id", "text", max_hamming=12).collect()}
    assert (1, 2) in pairs  # near-dup within 12 bits
    assert (1, 4) not in pairs and (3, 4) not in pairs


# --- similarity ---------------------------------------------------------


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ann_topk_exact_order(spark, vecs):
    q = vecs.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = ann_topk_bruteforce(vecs, q, k=3, id_col="vec_id").collect()
    assert [r.neighbor_id for r in sorted(rows, key=lambda r: r.rank)] == [2, 3, 4]
    expected = 0.9 / math.sqrt(0.81 + 0.01)
    assert abs(rows[0].sim - round(expected, 6)) < 1e-9


def test_ann_ivf_full_probe_equals_bruteforce(spark):
    """nprobe = num_centroids scans every list — the IVF ranking must
    then be IDENTICAL to the exact brute-force top-k (recall dial at
    max; a recall<1 regression here means the probe logic is wrong)."""
    from fbs_data_pipelines_spark.operators.similarity import ann_ivf_topk
    from fbs_data_pipelines_spark.session import get_spark  # noqa: F401

    df = get_spark().read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ann_topk_bruteforce(df, q, k=5).collect()
    }
    ivf_full = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ann_ivf_topk(
            df, q, k=5, num_centroids=4, nprobe=4
        ).collect()
    }
    assert ivf_full == exact
    # nprobe=1 is a strict subset of the candidate space: results may
    # differ, but every hit it returns scores identically to exact
    ivf_1 = ann_ivf_topk(df, q, k=5, num_centroids=4, nprobe=1).collect()
    assert all(r.rank <= 5 for r in ivf_1)


def test_embedding_neardup_pairs_threshold(spark, vecs):
    pairs = {(r.id_a, r.id_b) for r in embedding_neardup_pairs(vecs, 0.95).collect()}
    assert pairs == {(1, 2)}


def test_embedding_neardup_exact_path_refuses_large_input(spark, vecs):
    with pytest.raises(ValueError, match="use_lsh=True"):
        embedding_neardup_pairs(vecs, 0.95, max_exact_rows=2)
    # LSH path has no such cap
    embedding_neardup_pairs(vecs, 0.95, use_lsh=True, dim=3, max_exact_rows=2).collect()


def test_lsh_bucket_deterministic_and_narrow(spark, vecs):
    b1 = {r.vec_id: r.bucket for r in lsh_bucket(vecs, dim=3).collect()}
    b2 = {r.vec_id: r.bucket for r in lsh_bucket(vecs, dim=3).collect()}
    assert b1 == b2
    plan = lsh_bucket(vecs, dim=3)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan
    # antipodal vectors land in complementary buckets, never the same one
    assert b1[1] != b1[4]


def test_dup_clusters_chain_and_island(spark):
    from fbs_data_pipelines_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (6, 5)], "id_a long, id_b long"
    )
    out = {r.id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}


def test_ivf_assignment_and_probe(spark, vecs):
    from fbs_data_pipelines_spark.operators.similarity import ann_ivf_topk

    q = vecs.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = ann_ivf_topk(vecs, q, k=2, num_centroids=2).collect()
    # probe of vec1's bucket must surface its true nearest neighbor
    assert rows and rows[0].neighbor_id == 2


def test_approx_aggregates_bounded_error(spark, sf_dir):
    """The 100 TB path for percentiles/distinct-counts is the approx
    family (bounded-memory sketches). Verify the bounds actually hold
    on real data so the swap-in is safe."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = li.select(
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("approx_p50"),
        F.countDistinct("l_orderkey").alias("exact_d"),
        F.expr("approx_count_distinct(l_orderkey, 0.02)").alias("approx_d"),
    ).collect()[0]
    assert abs(row.approx_p50 - row.exact_p50) / row.exact_p50 < 0.02
    assert abs(row.approx_d - row.exact_d) / row.exact_d < 0.05


def test_rolling_fingerprint_values(spark):
    from fbs_data_pipelines_spark.functions.text import rolling_fingerprint

    df = spark.createDataFrame(
        [(1, "ab"), (2, "AB!"), (3, ""), (4, None)], "id long, text string"
    )
    out = {r.id: r.rfp for r in df.select("id", rolling_fingerprint("text").alias("rfp")).collect()}
    # 'ab' → ((0*31+97)%M)*31+98 % M = 3105; normalization folds case/punct
    assert out[1] == 97 * 31 + 98
    assert out[2] == out[1]
    assert out[3] == 0 and out[4] is None


# ------------------------------------------------- sparse TF-IDF cosine
def test_sparse_cosine_identical_docs_score_one(spark):
    from fbs_data_pipelines_spark.operators.similarity import (
        sparse_cosine_pairs,
    )

    rows = [
        (0, "rare quark flux moves the needle"),
        (1, "rare quark flux moves the needle"),
        (2, "completely different words entirely here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sparse_cosine_pairs(df, "doc_id", "text", threshold=0.3).collect()
    got = {(r.id_a, r.id_b): r.cos for r in out}
    assert got[(0, 1)] == 1.0
    # disjoint-vocabulary doc never pairs with the twins
    assert not any(2 in k for k in got)


def test_sparse_cosine_max_df_drops_stop_tokens(spark):
    from fbs_data_pipelines_spark.operators.similarity import (
        sparse_cosine_pairs,
    )

    # "the" appears in 3 of 4 docs (idf > 0, so it links doc 2 to the
    # twins); a df cutoff at 2 must break those pairs. A UNIVERSAL
    # token needs no cutoff — idf ln(N/N)=0 already zeroes it — the
    # cutoff exists for the high-df-but-not-universal Zipf mass.
    rows = [
        (0, "the alpha beta"),
        (1, "the alpha beta"),
        (2, "the gamma delta"),
        (3, "epsilon zeta eta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    loose = sparse_cosine_pairs(df, "doc_id", "text", threshold=0.01)
    cut = sparse_cosine_pairs(
        df, "doc_id", "text", threshold=0.01, max_df=2
    )
    loose_pairs = {(r.id_a, r.id_b) for r in loose.collect()}
    cut_pairs = {(r.id_a, r.id_b) for r in cut.collect()}
    assert (0, 2) in loose_pairs and (1, 2) in loose_pairs
    assert cut_pairs == {(0, 1)}


def test_sparse_cosine_weights_rare_tokens_higher(spark):
    from fbs_data_pipelines_spark.operators.similarity import (
        sparse_cosine_pairs,
    )

    # pair (0,1) shares a rare token, pair (0,2) shares a common one
    # (present in every doc → idf 0 → zero contribution)
    rows = [
        (0, "common rareword filler1 filler2"),
        (1, "common rareword filler3 filler4"),
        (2, "common filler5 filler6 filler7"),
        (3, "common filler8 filler9 fillerA"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.cos
        for r in sparse_cosine_pairs(
            df, "doc_id", "text", threshold=0.0001
        ).collect()
    }
    # the rare-token pair scores; the common-token-only pair carries
    # zero weight (idf ln(N/N) = 0) and is filtered out entirely
    assert got[(0, 1)] > 0.1
    assert (0, 2) not in got


def test_sparse_cosine_dense_path_matches_join_path(spark, sf_dir):
    """The small-vocabulary dense (blocked-BLAS) strategy and the
    inverted-index join strategy are the same operator — every pair
    and every 6dp cosine must agree. sf0.001 documents have a small
    synthetic vocabulary, so the default gate picks the dense path;
    dense_max_bytes=0 forces the join path on identical input."""
    from fbs_data_pipelines_spark.operators.similarity import (
        sparse_cosine_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kw = dict(threshold=0.5, max_df=int(0.8 * docs.count()))
    dense = sparse_cosine_pairs(docs, "doc_id", "text", **kw)
    joined = sparse_cosine_pairs(
        docs, "doc_id", "text", dense_max_bytes=0, **kw
    )
    d = {(r.id_a, r.id_b): r.cos for r in dense.collect()}
    j = {(r.id_a, r.id_b): r.cos for r in joined.collect()}
    assert d and d == j


def test_ann_sq8_high_recall_vs_bruteforce(spark, sf_dir):
    """SQ8 rank + exact rerank: with rerank margin 4x k, the final
    top-k should match brute force on this corpus (8-bit grid error
    is far below the neighbor gaps), and final sims are EXACT cosines
    (identical to brute force for the common pairs)."""
    from fbs_data_pipelines_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_sq8,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in ann_topk_bruteforce(e, queries, k=5).collect()
    }
    sq = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in ann_topk_sq8(e, queries, k=5, rerank=20).collect()
    }
    assert sq == bf


def test_ann_pq_rerank_exact_and_recall(spark, sf_dir):
    """PQ rank + exact rerank: final sims are EXACT cosines (every
    returned pair's sim equals the brute-force sim for that pair),
    and recall@5 vs brute force clears 0.8 at rerank=100 on this
    corpus (deterministic — seed-rule codebooks, no RNG)."""
    from fbs_data_pipelines_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_pq,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf_all = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in ann_topk_bruteforce(e, queries, k=50).collect()
    }
    bf_top5 = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_topk_bruteforce(e, queries, k=5).collect()
    }
    pq = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in ann_topk_pq(
            e, queries, k=5, rerank=100, num_codes=32, num_subspaces=8
        ).collect()
    }
    assert len(pq) == 25
    hits = set(pq) & bf_top5
    assert len(hits) / len(bf_top5) >= 0.8
    # rerank exactness: PQ's reported sims ARE the exact cosines
    for pair, sim in pq.items():
        if pair in bf_all:
            assert sim == bf_all[pair]


def test_pq_codebook_refinement_reduces_distortion(spark, sf_dir):
    """Per-subspace Lloyd refinement (r10): each iteration must not
    increase total quantization distortion (the Lloyd monotonicity
    guarantee — both the assignment and the centroid-update step are
    error-non-increasing), the first iteration strictly improves on
    the seed-rule slices here, and the whole procedure is
    deterministic (no RNG: rank-of-id seeds, first-min ties)."""
    from fbs_data_pipelines_spark.operators.similarity import pq_codebooks

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    kw = dict(num_codes=16, num_subspaces=8, dim=64)
    seed = pq_codebooks(e, **kw)
    ref1 = pq_codebooks(e, **kw, refine_iters=1)
    ref2 = pq_codebooks(e, **kw, refine_iters=2)
    assert ref2 == pq_codebooks(e, **kw, refine_iters=2)

    vecs = [
        [float(x) for x in r["embedding"]]
        for r in e.select("embedding").collect()
    ]

    def distortion(cb):
        sub = 64 // 8
        tot = 0.0
        for v in vecs:
            for s in range(8):
                sl = v[s * sub : (s + 1) * sub]
                tot += min(
                    sum((a - b) ** 2 for a, b in zip(sl, c))
                    for c in cb[s]
                )
        return tot

    d0, d1, d2 = distortion(seed), distortion(ref1), distortion(ref2)
    assert d1 < d0
    assert d2 <= d1


def test_ann_pq_refined_still_exact_rerank(spark, sf_dir):
    """ann_topk_pq with refined codebooks: the candidate CUT changes
    but the rerank stage still reports EXACT cosines, and recall
    must not fall below the seed-rule configuration's floor."""
    from fbs_data_pipelines_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_pq,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf_all = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in ann_topk_bruteforce(e, queries, k=50).collect()
    }
    bf_top5 = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_topk_bruteforce(e, queries, k=5).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in ann_topk_pq(
            e, queries, k=5, rerank=100, num_codes=32,
            num_subspaces=8, refine_iters=2,
        ).collect()
    }
    assert len(got) == 25
    assert len(set(got) & bf_top5) / len(bf_top5) >= 0.8
    for pair, sim in got.items():
        if pair in bf_all:
            assert sim == bf_all[pair]


def test_ann_ivfpq_composition_bounds(spark, sf_dir):
    """IVF-PQ recall decomposes as min(IVF routing, PQ+rerank): at a
    generous rerank the composite hits the pure-IVF nprobe ceiling
    EXACTLY (PQ costs nothing beyond the coarse router), and at full
    probe it reproduces pure PQ. Deterministic (seed-rule quantizers),
    so these are equalities, not tolerances."""
    from fbs_data_pipelines_spark.operators.similarity import (
        ann_ivf_topk,
        ann_topk_ivfpq,
        ann_topk_pq,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    ivf = pairs(ann_ivf_topk(e, queries, k=5, nprobe=4))
    comp = pairs(
        ann_topk_ivfpq(e, queries, k=5, rerank=200, nprobe=4)
    )
    # generous rerank within probed lists ranks exactly: same top-k
    # as pure IVF over the same lists
    assert comp == ivf
    full = pairs(
        ann_topk_ivfpq(e, queries, k=5, rerank=100, nprobe=8)
    )
    pq = pairs(
        ann_topk_pq(e, queries, k=5, rerank=100, num_codes=32,
                    num_subspaces=8)
    )
    assert full == pq


def test_ann_ivfpq_residual_exact_rerank_and_determinism(spark, sf_dir):
    """Residual IVF-PQ (FAISS-faithful): sims are still EXACT cosines
    (the rerank stage is untouched by the encoding change), output
    shape/cardinality match, and the whole path is deterministic."""
    from fbs_data_pipelines_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_ivfpq,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf_all = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in ann_topk_bruteforce(e, queries, k=100).collect()
    }

    def run():
        return {
            (r["query_id"], r["neighbor_id"]): (r["sim"], r["rank"])
            for r in ann_topk_ivfpq(
                e, queries, k=5, rerank=50, nprobe=4, residual=True
            ).collect()
        }

    got = run()
    assert got == run()  # deterministic
    assert len(got) == 25
    for pair, (sim, _) in got.items():
        if pair in bf_all:
            assert sim == bf_all[pair]
