"""Corpus-quality, deterministic-sampling, and sequence-packing ops."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from fbs_data_pipelines_spark.operators.packing import pack_sequences
from fbs_data_pipelines_spark.operators.quality import (
    gopher_quality_flags,
    repetition_stats,
    top_ngram_stats,
)
from fbs_data_pipelines_spark.operators.sampling import (
    deterministic_sample,
    stratified_sample,
    train_eval_split,
)


def test_gopher_flags_reject_degenerate_docs(spark):
    good = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        * 10
    )  # 130 words, normal lengths, stopwords present
    short = "too short to pass"
    bullets = "\n".join(f"- item {i}" for i in range(20))
    symbols = "the " + "#tag " * 80 + "of and that have with be to"
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, bullets), (4, symbols)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_quality_flags(df, "doc_id", "text").collect()}
    assert out[1].gopher_pass
    assert not out[2].gopher_pass  # < 50 words
    assert not out[3].gopher_pass  # bullet_line_frac = 1.0
    assert not out[4].gopher_pass  # symbol ratio ≈ 0.87
    assert out[3].bullet_line_frac == 1.0
    assert out[1].stopword_hits >= 2


def test_repetition_and_top_ngram(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta\nalpha beta\ngamma delta"),
            (2, "one two three four five six"),
        ],
        "doc_id long, text string",
    )
    rep = {r.doc_id: r for r in repetition_stats(df, "doc_id", "text").collect()}
    assert rep[1].n_lines == 3 and rep[1].dup_line_frac == round(1 / 3, 6)
    # words: alpha beta alpha beta gamma delta → 6 words, 4 distinct
    assert rep[1].dup_word_frac == round(1 - 4 / 6, 6)
    assert rep[2].dup_line_frac == 0.0 and rep[2].dup_word_frac == 0.0

    top = {r.doc_id: r for r in top_ngram_stats(df, "doc_id", "text", n=2).collect()}
    # bigrams of doc1: 'alpha beta' x2, 'beta alpha', 'beta gamma',
    # 'gamma delta' → top covers 2/5
    assert top[1].top_gram == "alpha beta"
    assert top[1].top_gram_count == 2 and top[1].n_grams == 5
    assert top[1].top_gram_frac == round(2 / 5, 6)
    # all-unique doc: tie broken to lexicographically smallest bigram
    assert top[2].top_gram == "five six"
    assert top[2].top_gram_frac == round(1 / 5, 6)


def test_pii_redaction_and_counts(spark):
    from fbs_data_pipelines_spark.functions.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [(1, "mail a.user@corp.example.org or 192.168.0.1 or +57 601 555 0001 end")],
        "doc_id long, text string",
    )
    [r] = df.select(
        redact_pii("text").alias("red"), *pii_counts("text")
    ).collect()
    assert r.red == "mail <EMAIL> or <IP> or <PHONE> end"
    assert (r.n_email, r.n_ipv4, r.n_phone) == (1, 1, 1)


def test_deterministic_sampling_is_stable_and_stratified(spark):
    df = spark.createDataFrame(
        [(i, "A" if i % 2 == 0 else "B") for i in range(2000)],
        "k long, s string",
    )
    a = sorted(r.k for r in deterministic_sample(df, "k", 0.2).collect())
    b = sorted(
        r.k
        for r in deterministic_sample(
            df.repartition(13), "k", 0.2
        ).collect()
    )
    assert a == b  # partitioning-independent
    assert 0.15 < len(a) / 2000 < 0.25  # ≈ the requested fraction
    # a kept key stays kept when the fraction grows (nested samples)
    bigger = {r.k for r in deterministic_sample(df, "k", 0.4).collect()}
    assert set(a) <= bigger

    strat = stratified_sample(
        df, "s", {"A": 0.5, "B": 0.05}, key_col="k"
    )
    counts = {
        r.s: r.n
        for r in strat.groupBy("s").agg(F.count("*").alias("n")).collect()
    }
    assert counts["A"] > 5 * counts.get("B", 0)

    split = train_eval_split(df, "k", eval_fraction=0.25)
    sides = {r.k: r.split for r in split.collect()}
    assert set(sides.values()) == {"train", "eval"}
    evals = sum(1 for v in sides.values() if v == "eval")
    assert 0.18 < evals / 2000 < 0.32


def test_decontaminate_flags_ngram_overlap(spark):
    from fbs_data_pipelines_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the secret benchmark answer is forty two exactly"),
            (2, "completely unrelated text about cooking pasta dishes"),
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "what is the secret benchmark answer")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.n_hits for r in decontaminate(train, eval_df, "doc_id", "text").collect()}
    # doc1 shares 'the secret benchmark' and 'secret benchmark answer'
    assert out == {1: 2}


def test_sequence_packing_respects_capacity(spark):
    rows = [(i, 60 + (i % 5) * 30) for i in range(100)]  # 60..180 tokens
    rows.append((1000, 900))  # oversized doc
    df = spark.createDataFrame(rows, "doc_id long, ntok long")
    with warnings.catch_warnings():
        # the packing kernel's type hints must name its eval type
        warnings.filterwarnings(
            "error", "Cannot infer the eval type", UserWarning
        )
        packed = pack_sequences(
            df, "doc_id", "ntok", capacity=256, num_buckets=4
        )
    out = packed.collect()
    assert len(out) == 101  # every doc assigned exactly once
    sums = (
        packed.groupBy("bucket", "pack_id")
        .agg(F.sum("n_tokens").alias("t"), F.count("*").alias("n"))
        .collect()
    )
    for r in sums:
        # a pack only exceeds capacity when it holds one oversized doc
        assert r.t <= 256 or r.n == 1
    big = [r for r in out if r.doc_id == 1000]
    assert len(big) == 1
    # the oversized doc sits alone in its pack
    mates = [
        r for r in out
        if (r.bucket, r.pack_id) == (big[0].bucket, big[0].pack_id)
    ]
    assert mates == big


def test_packing_invariants_property(spark):
    """Property test: for arbitrary token-count corpora, next-fit
    packing (a) assigns every doc exactly once, (b) never exceeds
    capacity except for singleton oversized packs, (c) is dense per
    bucket (pack ids 0..max with no gaps), and (d) respects doc-id
    order within a bucket (pack_id is monotone in doc_id)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        toks=st.lists(
            st.integers(min_value=1, max_value=400),
            min_size=1,
            max_size=60,
        ),
        capacity=st.integers(min_value=64, max_value=300),
    )
    def check(toks, capacity):
        rows = [(i, t) for i, t in enumerate(toks)]
        df = spark.createDataFrame(rows, "doc_id long, ntok long")
        out = pack_sequences(df, "doc_id", "ntok", capacity, num_buckets=3).collect()
        assert sorted(r.doc_id for r in out) == sorted(i for i, _ in rows)
        by_pack: dict = {}
        by_bucket: dict = {}
        for r in out:
            by_pack.setdefault((r.bucket, r.pack_id), []).append(r)
            by_bucket.setdefault(r.bucket, []).append(r)
        for members in by_pack.values():
            total = sum(m.n_tokens for m in members)
            assert total <= capacity or len(members) == 1
        for bucket, members in by_bucket.items():
            ids = sorted(set(p for (_, p) in by_pack if _ == bucket))
            assert ids == list(range(len(ids)))  # dense pack ids
            members = sorted(members, key=lambda m: m.doc_id)
            packs = [m.pack_id for m in members]
            assert packs == sorted(packs)  # monotone in doc order

    check()


def test_packing_deterministic_across_partitioning(spark):
    df = spark.createDataFrame(
        [(i, 50 + i % 7 * 20) for i in range(300)], "doc_id long, ntok long"
    )
    a = {
        (r.doc_id): (r.bucket, r.pack_id)
        for r in pack_sequences(df, "doc_id", "ntok", 256).collect()
    }
    b = {
        (r.doc_id): (r.bucket, r.pack_id)
        for r in pack_sequences(
            df.repartition(17), "doc_id", "ntok", 256
        ).collect()
    }
    assert a == b


def test_chunk_documents_overlap_and_coverage(spark):
    from fbs_data_pipelines_spark.operators.packing import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, text), (2, "one two"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    rows = sorted(
        (r.doc_id, r.chunk_idx, r.chunk_text, r.n_tokens)
        for r in chunk_documents(
            df, "doc_id", "text", chunk_tokens=4, overlap=1
        ).collect()
    )
    assert rows == [
        (1, 0, "w0 w1 w2 w3", 4),
        (1, 1, "w3 w4 w5 w6", 4),  # stride 3: last token re-appears
        (1, 2, "w6 w7 w8 w9", 4),
        (2, 0, "one two", 2),  # short doc: one chunk, no padding
    ]
    # every token of the source is covered by some chunk
    covered = set()
    for _, _, t, _ in rows[:3]:
        covered.update(t.split())
    assert covered == {f"w{i}" for i in range(10)}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=4)


def test_chunk_documents_is_narrow(spark, sf_dir):
    from fbs_data_pipelines_spark.operators.packing import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = chunk_documents(docs, "doc_id", "text", chunk_tokens=32, overlap=8)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in final  # tokenize+explode+slice, no shuffle
