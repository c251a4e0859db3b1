"""BPE encoding against the classic worked example and structural
invariants."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from fbs_data_pipelines_spark.operators.bpe import EOW, bpe_encode


@pytest.fixture(scope="module")
def corpus(spark):
    # the Sennrich paper's toy distribution: low/lower/newest/widest
    rows = []
    for word, n in (("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)):
        rows += [(len(rows) + i, word) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _merges(*pairs):
    return [{"left": l, "right": r} for l, r in pairs]


def test_bpe_encode_compresses_and_roundtrips(spark, corpus):
    # the paper's first merges on this corpus, then the stems
    merges = _merges(
        ("e", "s"), ("es", "t"), ("est", EOW), ("l", "o"),
        ("lo", "w"), ("n", "e"), ("ne", "w"), ("w", "i"),
    )
    enc = bpe_encode(corpus.limit(5), "doc_id", "text", merges)
    for r in enc.collect():
        toks = r["bpe_tokens"]
        # concatenating subwords restores word + EOW marker
        joined = "".join(toks).replace(EOW, " ").strip()
        assert joined in {"low", "lower", "newest", "widest"}
        # these merges compress every word below its char count
        assert len(toks) < len(joined) + 1


def test_bpe_greedy_overlap_rule(spark):
    # "aaa": merging (a,a) greedily left-to-right → ["aa", "a", EOW]
    docs = spark.createDataFrame([(1, "aaa aaa")], "doc_id long, text string")
    merges = _merges(("a", "a"))
    enc = bpe_encode(docs, "doc_id", "text", merges).collect()[0]
    assert enc["bpe_tokens"] == ["aa", "a", EOW, "aa", "a", EOW]


def test_merge_expr_matches_python_reference_bulk(spark):
    """The greedy left-to-right merge fold vs a Python reference over
    200 random symbol arrays — one Spark job for the whole batch."""
    import random

    from pyspark.sql import functions as F

    from fbs_data_pipelines_spark.operators.bpe import _merge_expr

    def ref_merge(syms, a, b):
        out = []
        for x in syms:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        return out

    rng = random.Random(7)
    alphabet = ["a", "b", "ab", "c"]
    cases = [
        [rng.choice(alphabet) for _ in range(rng.randint(0, 12))]
        for _ in range(200)
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)],
        "i long, syms array<string>",
    )
    got = {
        r["i"]: r["m"]
        for r in df.select(
            "i", _merge_expr(F.col("syms"), "a", "b").alias("m")
        ).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == ref_merge(c, "a", "b"), (i, c)


