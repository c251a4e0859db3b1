"""Record linkage (entity resolution) — blocking + Fellegi–Sunter
field-agreement scoring + best-match resolution.

The classic probabilistic-linkage shape (Fellegi & Sunter 1969;
the Splink/dedupe.io pipeline): candidate pairs come from UNION of
cheap equi-join blocking passes (never all-pairs), each compared
field contributes an agreement weight (log-odds style: positive on
agree, negative on disagree, 0 on missing), pairs above a threshold
are links, and a one-to-one resolution keeps the best right-record
per left-record.

Scale shape at 100 TB:

- candidates = Σ_blocks |A_b|·|B_b| — bounded by the caller's
  blocking keys, NOT |A|·|B|; each pass is a plain shuffle equi-join
  on its key.
- scoring is a narrow projection (CASE sums of literal weights);
  resolution is one per-left-key window over (keys, score) triples.
- cross-pass de-duplication shuffles only the pair keys + carried
  fields, once.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def blocked_pairs(
    a: DataFrame,
    b: DataFrame,
    a_key: str,
    b_key: str,
    blocking: Sequence[tuple[Column, Column]],
) -> DataFrame:
    """Candidate pairs from a union of equi-join blocking passes.

    ``a``/``b`` columns arrive prefixed ``a_``/``b_`` in the output;
    each ``blocking`` element is ``(expr_over_a, expr_over_b)``
    producing that pass's join key **over the prefixed names**.
    Pairs surviving any pass appear once.
    """
    a2 = a.select([F.col(c).alias(f"a_{c}") for c in a.columns])
    b2 = b.select([F.col(c).alias(f"b_{c}") for c in b.columns])
    passes = []
    for expr_a, expr_b in blocking:
        left = a2.withColumn("__bk", expr_a).filter(
            F.col("__bk").isNotNull()
        )
        right = b2.withColumn("__bk", expr_b).filter(
            F.col("__bk").isNotNull()
        )
        passes.append(left.join(right, "__bk").drop("__bk"))
    out = passes[0]
    for p in passes[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates([f"a_{a_key}", f"b_{b_key}"])


def score_pairs(
    pairs: DataFrame,
    comparisons: Sequence[tuple[Column, float, float]],
    score_col: str = "score",
) -> DataFrame:
    """Fellegi–Sunter agreement scoring over a candidate-pair
    relation: each ``(predicate, w_agree, w_disagree)`` contributes
    ``w_agree`` when the predicate is true, ``w_disagree`` when
    false, and 0 when null (missing field — the F-S convention).
    Predicates are Columns over the prefixed pair relation. The sum
    is a fixed left-assoc chain, so an oracle can replay it
    term-for-term."""
    total = F.lit(0.0)
    for pred, w_agree, w_disagree in comparisons:
        total = total + (
            F.when(pred, F.lit(float(w_agree)))
            .when(~pred, F.lit(float(w_disagree)))
            .otherwise(F.lit(0.0))
        )
    return pairs.withColumn(score_col, total)


def link_records(
    a: DataFrame,
    b: DataFrame,
    a_key: str,
    b_key: str,
    blocking: Sequence[tuple[Column, Column]],
    comparisons: Sequence[tuple[Column, float, float]],
    threshold: float,
) -> DataFrame:
    """End-to-end linkage: blocked candidates → scored pairs →
    threshold → the single best b-record per a-record (ties broken by
    ascending ``b_key`` — deterministic). Returns
    ``(a_<a_key>, b_<b_key>, score)``."""
    pairs = blocked_pairs(a, b, a_key, b_key, blocking)
    scored = score_pairs(pairs, comparisons)
    ak, bk = f"a_{a_key}", f"b_{b_key}"
    out = scored.filter(F.col("score") >= threshold).select(
        ak, bk, "score"
    )
    w = Window.partitionBy(ak).orderBy(F.col("score").desc(), F.col(bk).asc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
