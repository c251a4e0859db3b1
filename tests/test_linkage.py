"""Record linkage — blocking, F-S scoring, resolution."""

from pyspark.sql import functions as F

from fbs_data_pipelines_spark.operators.linkage import (
    blocked_pairs,
    link_records,
    score_pairs,
)


def _ab(spark):
    a = spark.createDataFrame(
        [
            (1, "ann lee", "555-0101", "NY"),
            (2, "bob roy", "555-0202", "NY"),
            (3, "cy dole", "555-0303", "CA"),
        ],
        "id long, name string, phone string, state string",
    )
    b = spark.createDataFrame(
        [
            (11, "ann lee", "555-0101", "NY"),   # exact dup of 1
            (12, "bob ray", "555-0202", "NY"),   # phone match of 2
            (13, "zz top", "555-9999", "CA"),    # no real match
            (14, "ann lee", "555-0111", "NY"),   # name-only match of 1
        ],
        "id long, name string, phone string, state string",
    )
    return a, b


def _blocking():
    return [(F.col("a_state"), F.col("b_state"))]


def _comparisons():
    return [
        (F.col("a_name") == F.col("b_name"), 4.0, -2.0),
        (F.col("a_phone") == F.col("b_phone"), 5.0, -3.0),
    ]


def test_blocked_pairs_respect_blocks(spark):
    a, b = _ab(spark)
    pairs = blocked_pairs(a, b, "id", "id", _blocking())
    got = {(r.a_id, r.b_id) for r in pairs.collect()}
    # NY x NY = 2*3 pairs, CA x CA = 1*1 — never the full 3*4
    assert got == {(1, 11), (1, 12), (1, 14), (2, 11), (2, 12),
                   (2, 14), (3, 13)}


def test_multi_pass_union_dedupes_pairs(spark):
    a, b = _ab(spark)
    two_pass = _blocking() + [
        (F.col("a_phone"), F.col("b_phone"))  # re-finds (1,11), (2,12)
    ]
    pairs = blocked_pairs(a, b, "id", "id", two_pass)
    rows = [(r.a_id, r.b_id) for r in pairs.collect()]
    assert len(rows) == len(set(rows))  # no duplicate pairs
    assert (1, 11) in rows


def test_score_and_missing_field_is_zero(spark):
    a, b = _ab(spark)
    a = a.withColumn(
        "phone", F.when(F.col("id") != 2, F.col("phone"))
    )  # id=2 phone null -> phone term contributes 0
    pairs = blocked_pairs(a, b, "id", "id", _blocking())
    scored = {
        (r.a_id, r.b_id): r.score
        for r in score_pairs(pairs, _comparisons()).collect()
    }
    assert scored[(1, 11)] == 9.0    # name +4, phone +5
    assert scored[(1, 14)] == 1.0    # name +4, phone -3
    assert scored[(2, 12)] == -2.0   # name -2, phone null -> 0
    assert scored[(2, 11)] == -2.0


def test_link_records_top1_threshold(spark):
    a, b = _ab(spark)
    out = link_records(
        a, b, "id", "id", _blocking(), _comparisons(), threshold=1.0
    )
    got = {(r.a_id, r.b_id, r.score) for r in out.collect()}
    # a=1 links 11 (9.0) over 14 (1.0); a=2 links 12 (phone +5,
    # name -2); a=3 has no pair >= 1.0
    assert got == {(1, 11, 9.0), (2, 12, 3.0)}


