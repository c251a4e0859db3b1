"""Cost and equivalence pins for the near-dup path (ROADMAP item 1).

- ``word_shingles`` must stay bit-identical to the sequence+transform
  form it replaced, whose lambda captured the whole token expression
  and re-tokenized the document once per shingle.
- The lambda-capture lint (``tools/plan_audit.lambda_captures``)
  finds no site in the shingle operators' plans, and does find the
  old form.
- ``minhash_lsh_pairs`` builds with at most half the py4j commands of
  the shingle-join version and verifies pairs without a join keyed on
  the shingle.
- ``dup_clusters`` settles a star in one round, matches union-find on
  random graphs and leaves no checkpoint behind after
  ``release_cache``.
"""

from __future__ import annotations

import gc
import re
import sys
from pathlib import Path

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fbs_data_pipelines_spark.caching import release_cache
from fbs_data_pipelines_spark.functions.text import tokens, word_shingles
from fbs_data_pipelines_spark.operators.dedup import (
    dup_clusters,
    minhash_lsh_pairs,
    shared_span_pairs,
    shingle_table,
)

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from plan_audit import lambda_captures  # noqa: E402

#: py4j commands (memory-management ones excluded) that building
#: ``minhash_lsh_pairs`` on the 2-doc frame below cost with the
#: sequence+transform shingles, the exploded (id, shingle) table and
#: its shingle-keyed verify joins, DataFrame debugging on (PySpark
#: 4.1.2, this suite's session)
SHINGLE_JOIN_BUILD_COMMANDS = 1578


def _sequence_shingles(c, n):
    """The replaced form, kept as the reference."""
    t = tokens(c)
    idx = F.sequence(F.lit(0), F.size(t) - n)
    shingle = lambda i: F.concat_ws(" ", F.slice(t, i + 1, n))  # noqa: E731
    return F.when(F.size(t) >= n, F.transform(idx, shingle)).otherwise(
        F.array().cast("array<string>")
    )


@pytest.fixture(scope="module")
def three_docs(spark):
    return spark.createDataFrame(
        [
            (1, "The quick brown fox jumps over the lazy dog"),
            (2, "The quick brown fox jumps over the lazy cat"),
            (3, "nothing in common with the others at all"),
        ],
        "doc_id long, text string",
    )


def test_word_shingles_match_sequence_form(spark):
    texts = [
        None, "", "   ", "\t \n ", "!!! ,,, ??", "one", "one two",
        "Hello, World!", "a b c d", "  Mixed   CASE,  punct!  and 12 digits ",
        "The quick brown fox jumps over the lazy dog " * 3,
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    cols = []
    for n in range(1, 6):
        cols += [
            word_shingles("text", n).alias(f"new_{n}"),
            _sequence_shingles("text", n).alias(f"old_{n}"),
        ]
    out = df.select("id", *cols)
    for n in range(1, 6):
        new, old = out.schema[f"new_{n}"], out.schema[f"old_{n}"]
        assert (new.dataType, new.nullable) == (old.dataType, old.nullable)
    rows = out.collect()
    assert len(rows) == len(texts)
    for r in rows:
        for n in range(1, 6):
            assert r[f"new_{n}"] == r[f"old_{n}"], (r.id, n)


def test_lambda_capture_lint_finds_no_site_in_shingle_operators(spark, three_docs):
    pairs = minhash_lsh_pairs(three_docs, "doc_id", "text")
    spans = shared_span_pairs(three_docs, "doc_id", "text", min_span_tokens=3)
    for df in (shingle_table(three_docs, "doc_id", "text"), pairs, spans):
        assert lambda_captures(df) == []
    release_cache(pairs)
    release_cache(spans)
    # the rule does see the replaced form: its lambda reads the whole
    # token expression (split of the normalized text) per shingle
    old = three_docs.select(_sequence_shingles("text", 3).alias("s"))
    [site] = lambda_captures(old)
    assert site.startswith("StringSplit(")


def test_minhash_lsh_pairs_build_halves_py4j_commands(spark):
    import py4j.clientserver as cs

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    sent = []
    orig = cs.ClientServerConnection.send_command

    def counting(self, command):
        # 'm' commands delete proxies Python garbage-collected, whenever
        # that happens: they belong to no particular build
        if not command.startswith("m"):
            sent.append(command)
        return orig(self, command)

    gc.collect()
    cs.ClientServerConnection.send_command = counting
    try:
        pairs = minhash_lsh_pairs(df, "doc_id", "text", num_hashes=8, bands=4)
    finally:
        cs.ClientServerConnection.send_command = orig
    release_cache(pairs)
    assert len(sent) <= SHINGLE_JOIN_BUILD_COMMANDS // 2, len(sent)


def test_minhash_lsh_pairs_verify_has_no_shingle_join(spark, three_docs):
    pairs = minhash_lsh_pairs(three_docs, "doc_id", "text", bands=8, num_hashes=8)
    assert [tuple(r) for r in pairs.collect()] == [(1, 2, 0.75)]  # 6 of 8 shingles
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    joins = re.findall(r"(?:Join|HashJoin) \[([^\]]*)\]", plan)
    assert joins  # the band self-join and the two per-doc joins
    assert not [k for k in joins if "shingle#" in k], joins
    release_cache(pairs)


def _components(edges):
    """node → min node of its component (union-find)."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_dup_clusters_star_converges_in_one_count(spark, monkeypatch):
    from pyspark.sql.classic.dataframe import DataFrame

    pairs = spark.createDataFrame(
        [(3, k) for k in (7, 4, 9, 5)], "id_a long, id_b long"
    )
    counts = []
    orig = DataFrame.count
    monkeypatch.setattr(
        DataFrame, "count", lambda self: counts.append(1) or orig(self)
    )
    out = dup_clusters(pairs)
    assert len(counts) == 1
    monkeypatch.undo()
    assert {r.id: r.cluster_id for r in out.collect()} == {
        k: 3 for k in (3, 4, 5, 7, 9)
    }
    release_cache(out)


def test_dup_clusters_release_frees_checkpoints(spark):
    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    before = set(sc._jsc.getPersistentRDDs().keySet())
    out = dup_clusters(pairs)
    assert sorted(map(tuple, out.collect())) == [
        (1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)
    ]
    live = set(sc._jsc.getPersistentRDDs().keySet()) - before
    # superseded rounds are gone already: only the edges and the
    # final labels are left for release_cache
    assert len(live) == 2
    release_cache(out)
    # a subset, not an equal size: a JVM GC may free other tests'
    # leftovers meanwhile
    assert set(sc._jsc.getPersistentRDDs().keySet()) <= before


_shapes = st.lists(
    st.tuples(st.sampled_from(["chain", "star", "island"]), st.integers(2, 6)),
    min_size=1,
    max_size=5,
)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(shapes=_shapes, rnd=st.randoms(use_true_random=False))
def test_dup_clusters_matches_union_find(spark, shapes, rnd):
    n_nodes = sum(2 if kind == "island" else size for kind, size in shapes)
    ids = rnd.sample(range(1, 10 * n_nodes), n_nodes)  # shuffled labels
    edges, at = [], 0
    for kind, size in shapes:
        nodes = ids[at: at + (2 if kind == "island" else size)]
        at += len(nodes)
        if kind == "star":
            edges += [(nodes[0], v) for v in nodes[1:]]
        else:
            edges += list(zip(nodes, nodes[1:]))
    edges = [(a, b) if rnd.random() < 0.5 else (b, a) for a, b in edges]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    out = dup_clusters(pairs)
    assert {r.id: r.cluster_id for r in out.collect()} == _components(edges)
    release_cache(out)
