"""N-gram language-model perplexity scoring (CCNet-style quality).

The classic web-corpus quality filter (Wenzek et al. 2020, "CCNet:
Extracting High Quality Monolingual Datasets from Web Crawl Data"):
score every document by the perplexity of a small LM trained on a
trusted corpus; low perplexity ≈ fluent text, high perplexity ≈
boilerplate/garbage. Here the LM is an add-alpha-smoothed bigram
model — counts are exactly expressible as DataFrame aggregations, so
both training and scoring stay engine-native (no UDFs) and the whole
operator is reproducible by a plain SQL oracle.

Model:  p(w2 | w1) = (c(w1,w2) + a) / (c(w1) + a·V)
Score:  log-perplexity = −(1/N) Σ ln p  over a doc's N bigrams.

Scale shape:
- **Training** is one map-side-combined shuffle: explode bigrams,
  ``groupBy(w1, w2).count()`` — output is vocabulary-sized, not
  corpus-sized. Context counts c(w1) derive from the bigram table
  (``groupBy(w1).sum``), no second corpus scan. V (distinct tokens)
  is a scalar collected once (control plane).
- **Scoring** explodes each doc's bigrams and joins the model. The
  model is vocabulary-sized — broadcast when it fits (the default
  hint below), else a shuffle join AQE can skew-split; the final
  per-doc aggregation is map-side combined. Identical shape to the
  de-skewed tf-idf join (``__spark_entry__.q_tfidf``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import CacheScope, carry_cache
from ..functions.text import tokens
from .partitioning import ensure_parallelism


def _bigrams(toks: Column) -> Column:
    """array<struct<w1,w2>> of adjacent token pairs."""
    return F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda t, i: F.struct(
            t.alias("w1"), F.element_at(toks, i + F.lit(2)).alias("w2")
        ),
    )


def bigram_lm_train(docs: DataFrame, text_col: str) -> DataFrame:
    """Train the bigram table: (w1, w2, c2, c1) — pair count and
    context count. One corpus scan, one corpus-sized shuffle; both
    aggregations are map-side combined and output is
    vocabulary-sized. The model is PERSISTED (scope-attached, see
    ``caching.py``) because scoring references it from two join
    branches — without the persist the tokenize/explode/count
    subtree would re-execute per branch, exactly the recompute the
    de-skewed tf-idf fix killed. ``release_cache(result)`` frees it."""
    pairs = ensure_parallelism(docs).select(
        F.explode(_bigrams(tokens(text_col))).alias("b")
    ).select("b.w1", "b.w2")
    c2 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    scope = CacheScope()
    return scope.attach(scope.persist(c2.join(c1, "w1")))


def vocabulary_size(docs: DataFrame, text_col: str) -> int:
    """Distinct normalized tokens in the corpus (scalar, one pass)."""
    return (
        ensure_parallelism(docs)
        .select(F.explode(tokens(text_col)).alias("tok"))
        .filter(F.col("tok") != "")
        .agg(F.countDistinct("tok").alias("v"))
        .collect()[0]["v"]
    )


def lm_perplexity(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    model: DataFrame,
    vocab_size: int,
    alpha: float = 0.5,
) -> DataFrame:
    """Score each document against a trained bigram model. Returns
    (id, n_bigrams, log_ppl): log-perplexity = mean negative ln-prob
    of the doc's bigrams; unseen bigrams/contexts fall back to the
    smoothing mass. Docs with < 2 tokens score null. The model and
    its context table are broadcast."""
    b = ensure_parallelism(docs).select(
        F.col(id_col), F.explode(_bigrams(tokens(text_col))).alias("bg")
    ).select(id_col, "bg.w1", "bg.w2")
    contexts = model.select("w1", "c1").distinct()
    m, ctx = F.broadcast(model), F.broadcast(contexts)
    # two left joins: an unseen pair under a SEEN context must still
    # use that context's mass in the denominator
    scored = (
        b.join(m.select("w1", "w2", "c2"), ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
    ).select(
        id_col,
        F.log(
            (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(alpha))
            / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(alpha * vocab_size))
        ).alias("lp"),
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        (-F.avg("lp")).alias("log_ppl"),
    )
    # left join keeps <2-token docs (no bigrams) with null scores
    out = (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "log_ppl",
        )
    )
    # the model's persist scope travels with the scored result so the
    # consumer's release_cache() frees the cached model
    return carry_cache(out, model)


def ppl_quantile_buckets(
    scored: DataFrame,
    group_col: str,
    score_col: str = "log_ppl",
    n_buckets: int = 3,
) -> DataFrame:
    """Scale-safe per-group score bucketing (CCNet's head/middle/tail
    split without the window): per-group quantile CUTOFFS come from
    ONE map-side-combinable aggregation (``percentile``, output =
    group cardinality × (n_buckets−1) doubles), broadcast back, and
    the bucket is a comparison chain — the corpus never enters a
    window.

    The ``ntile`` formulation (``__spark_entry__.q_ppl_buckets``) is
    row-exact and right at test scale, but it windows on the language
    — a handful of Zipfian partitions, so at 100 TB one task owns 20%
    of the corpus and AQE cannot split window skew. This variant
    trades exact equal-count splits for threshold splits (ties at a
    cutoff all land in the lower bucket) and keeps every stage
    partial-aggregable. Use THIS form at scale.

    Returns ``scored`` plus a 1-based ``bucket`` column.
    """
    ps = [i / n_buckets for i in range(1, n_buckets)]
    cuts = scored.groupBy(group_col).agg(
        *[
            F.percentile(F.col(score_col), F.lit(p)).alias(f"__q{i}")
            for i, p in enumerate(ps)
        ]
    )
    # null-SAFE join: a null group is a legitimate stratum (the
    # cutoffs groupBy keeps it) — a plain equality join would silently
    # drop its rows, changing row counts vs the ntile form this
    # replaces
    cuts = cuts.withColumnRenamed(group_col, "__g")
    out = scored.join(
        F.broadcast(cuts),
        F.col(group_col).eqNullSafe(F.col("__g")),
    ).drop("__g")
    bucket = F.lit(n_buckets)
    for i in range(n_buckets - 2, -1, -1):
        bucket = F.when(
            F.col(score_col) <= F.col(f"__q{i}"), F.lit(i + 1)
        ).otherwise(bucket)
    return out.withColumn("bucket", bucket.cast("long")).drop(
        *[f"__q{i}" for i in range(n_buckets - 1)]
    )
