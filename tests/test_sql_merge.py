"""Tests for the restricted SQL ``MERGE INTO`` front door
(fbs_data_pipelines_spark/sql_merge.py) — the statement a lakehouse
user types for the reference's C2 join-merge
(/root/reference/src/log_handler.py:99-128 via etl.py EP3).

Covers: UPDATE SET * / SET col=expr with AND predicates and
first-clause-wins ordering, DELETE, INSERT * / INSERT (cols) VALUES,
WHEN NOT MATCHED BY SOURCE (DELETE / UPDATE, predicates, clause
order, SET * rejection), cardinality check (true violation raises;
duplicate target rows do NOT), alias resolution in ON/SET
expressions, SET-value coercion to the target dtype, quote-aware WHEN
splitting, and clean parse rejections for the documented unsupported
forms.
"""

from __future__ import annotations

import pytest

from fbs_data_pipelines_spark.sql_merge import (
    execute_merge,
    merge_into,
    parse_merge,
)


def _target(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id int, name string, amt double",
    )


def _source(spark):
    return spark.createDataFrame(
        [(2, "B", 200.0), (3, "C", 300.0), (4, "d", 40.0)],
        "id int, name string, amt double",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# parsing
# ---------------------------------------------------------------------------


def test_parse_full_statement():
    stmt = parse_merge(
        """
        MERGE INTO tgt AS t USING src AS s ON t.id = s.id
        WHEN MATCHED AND s.amt > 250 THEN DELETE
        WHEN MATCHED THEN UPDATE SET name = s.name, amt = s.amt * 2
        WHEN NOT MATCHED THEN INSERT (id, name, amt)
            VALUES (s.id, s.name, s.amt)
        """
    )
    assert stmt.target == "tgt" and stmt.target_alias == "t"
    assert stmt.source == "src" and stmt.source_alias == "s"
    assert stmt.on == "t.id = s.id"
    assert [c.kind for c in stmt.matched] == ["delete", "update"]
    assert stmt.matched[0].predicate.strip() == "s.amt > 250"
    assert stmt.matched[1].assignments == {
        "name": "s.name",
        "amt": "s.amt * 2",
    }
    assert stmt.not_matched[0].columns == ["id", "name", "amt"]


def test_parse_no_alias_defaults_to_table_name():
    stmt = parse_merge(
        "MERGE INTO tgt USING src ON tgt.id = src.id "
        "WHEN MATCHED THEN UPDATE SET *"
    )
    assert stmt.target_alias == "tgt" and stmt.source_alias == "src"
    assert stmt.matched[0].set_star


def test_parse_quoted_when_inside_literal():
    # the text 'WHEN MATCHED' inside a string literal must NOT split
    stmt = parse_merge(
        "MERGE INTO tgt AS t USING src AS s "
        "ON t.id = s.id AND t.name != 'WHEN MATCHED THEN x' "
        "WHEN MATCHED AND s.name != 'WHEN NOT MATCHED' "
        "THEN UPDATE SET name = 'WHEN MATCHED'"
    )
    assert "'WHEN MATCHED THEN x'" in stmt.on
    assert len(stmt.matched) == 1
    assert stmt.matched[0].predicate.strip() == "s.name != 'WHEN NOT MATCHED'"
    assert stmt.matched[0].assignments == {"name": "'WHEN MATCHED'"}


def test_parse_paren_nested_when_does_not_split():
    stmt = parse_merge(
        "MERGE INTO tgt AS t USING src AS s ON t.id = s.id "
        "WHEN MATCHED AND (CASE WHEN MATCHED_FLAG = 1 THEN 1 ELSE 0 END) = 1 "
        "THEN DELETE"
    )
    assert len(stmt.matched) == 1
    assert "CASE WHEN MATCHED_FLAG" in stmt.matched[0].predicate


@pytest.mark.parametrize(
    "bad",
    [
        "SELECT 1",
        "MERGE INTO tgt USING src ON tgt.id = src.id",  # no WHEN
        "MERGE INTO tgt USING src ON  WHEN MATCHED THEN DELETE",  # empty ON
        # bad SET
        "MERGE INTO tgt USING src ON tgt.id = src.id "
        "WHEN MATCHED THEN UPDATE SET src.id + 1",
        # arity mismatch
        "MERGE INTO tgt USING src ON tgt.id = src.id "
        "WHEN NOT MATCHED THEN INSERT (a, b) VALUES (src.a)",
    ],
)
def test_parse_rejections(bad):
    with pytest.raises(ValueError):
        parse_merge(bad)


# ---------------------------------------------------------------------------
# execution
# ---------------------------------------------------------------------------


def test_update_star_insert_star(spark):
    stmt = parse_merge(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    out = execute_merge(_target(spark), _source(spark), stmt)
    assert _rows(out) == [
        (1, "a", 10.0),
        (2, "B", 200.0),
        (3, "C", 300.0),
        (4, "d", 40.0),
    ]


def test_update_assignments_and_alias_resolution(spark):
    stmt = parse_merge(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET amt = t.amt + s.amt"
    )
    out = execute_merge(_target(spark), _source(spark), stmt)
    assert _rows(out) == [
        (1, "a", 10.0),
        (2, "b", 220.0),
        (3, "c", 330.0),
    ]


def test_first_matching_clause_wins(spark):
    # clause order decides: the amt>250 DELETE shadows the update for
    # id=3 (amt 300); id=2 (amt 200) falls through to the update
    stmt = parse_merge(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED AND s.amt > 250 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET name = s.name "
        "WHEN NOT MATCHED AND s.amt < 100 THEN INSERT *"
    )
    out = execute_merge(_target(spark), _source(spark), stmt)
    assert _rows(out) == [
        (1, "a", 10.0),
        (2, "B", 20.0),
        (4, "d", 40.0),
    ]
    # reversed clause order: the generic update now shadows the delete
    stmt2 = parse_merge(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET name = s.name "
        "WHEN MATCHED AND s.amt > 250 THEN DELETE "
        "WHEN NOT MATCHED AND s.amt < 100 THEN INSERT *"
    )
    out2 = execute_merge(_target(spark), _source(spark), stmt2)
    assert _rows(out2) == [
        (1, "a", 10.0),
        (2, "B", 20.0),
        (3, "C", 30.0),
        (4, "d", 40.0),
    ]


def test_insert_values_with_expressions_and_null_fill(spark):
    stmt = parse_merge(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT (id, amt) VALUES (s.id, s.amt * 10)"
    )
    out = execute_merge(_target(spark), _source(spark), stmt)
    assert _rows(out) == [
        (1, "a", 10.0),
        (2, "b", 20.0),
        (3, "c", 30.0),
        (4, None, 400.0),
    ]


def test_delete_only(spark):
    stmt = parse_merge(
        "MERGE INTO t USING s ON t.id = s.id WHEN MATCHED THEN DELETE"
    )
    out = execute_merge(_target(spark), _source(spark), stmt)
    assert _rows(out) == [(1, "a", 10.0)]


def test_set_value_coerced_to_target_dtype(spark):
    # string literal assigned to a double column coerces (no
    # AnalysisException from conflicting CASE branch types)
    stmt = parse_merge(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET amt = '99'"
    )
    out = execute_merge(_target(spark), _source(spark), stmt)
    assert dict(out.dtypes)["amt"] == "double"
    assert _rows(out) == [
        (1, "a", 10.0),
        (2, "b", 99.0),
        (3, "c", 99.0),
    ]


def test_cardinality_violation_raises(spark):
    dup_source = spark.createDataFrame(
        [(2, "x", 1.0), (2, "y", 2.0)], "id int, name string, amt double"
    )
    stmt = parse_merge(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET *"
    )
    with pytest.raises(ValueError, match="cardinality"):
        execute_merge(
            _target(spark), dup_source, stmt, check_cardinality=True
        )
    # without the opt-in check the merge proceeds (nondeterministic
    # multi-match resolution, as vanilla join semantics give)
    out = execute_merge(_target(spark), dup_source, stmt)
    assert out.count() == 4  # id=2 matched twice


def test_cardinality_duplicate_target_rows_ok(spark):
    # two IDENTICAL target rows each matching ONE source row is legal:
    # the check groups by physical row id, not the column tuple
    dup_target = spark.createDataFrame(
        [(2, "b", 20.0), (2, "b", 20.0)], "id int, name string, amt double"
    )
    one_source = spark.createDataFrame(
        [(2, "B", 200.0)], "id int, name string, amt double"
    )
    stmt = parse_merge(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET *"
    )
    out = execute_merge(dup_target, one_source, stmt, check_cardinality=True)
    assert _rows(out) == [(2, "B", 200.0), (2, "B", 200.0)]


def test_unknown_column_rejected(spark):
    stmt = parse_merge(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET nope = 1"
    )
    with pytest.raises(ValueError, match="unknown column"):
        execute_merge(_target(spark), _source(spark), stmt)


# ---------------------------------------------------------------------------
# front door: session-catalog views
# ---------------------------------------------------------------------------


def test_merge_into_views(spark):
    _target(spark).createOrReplaceTempView("mrg_tgt_v")
    _source(spark).createOrReplaceTempView("mrg_src_v")
    out = merge_into(
        spark,
        "MERGE INTO mrg_tgt_v AS t USING mrg_src_v AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *;",
    )
    assert out.count() == 4
    assert _rows(out.filter("id = 2")) == [(2, "B", 200.0)]


# ---------------------------------------------------------------------------
# WHEN NOT MATCHED BY SOURCE (r9): target rows absent from the source
# ---------------------------------------------------------------------------


def test_nmbs_delete_full_snapshot_semantics(spark):
    # the reference's C2 "full snapshot is authoritative" semantics as
    # ONE statement: update matches, insert new, delete absent
    stmt = parse_merge(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    out = execute_merge(_target(spark), _source(spark), stmt)
    # id=1 (not in source) is gone; the result IS the source state
    assert _rows(out) == [
        (2, "B", 200.0),
        (3, "C", 300.0),
        (4, "d", 40.0),
    ]


def test_nmbs_update_marks_stale_rows(spark):
    stmt = parse_merge(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET name = 'STALE'"
    )
    out = execute_merge(_target(spark), _source(spark), stmt)
    # only id=1 is source-absent; matched rows keep their values
    assert _rows(out) == [
        (1, "STALE", 10.0),
        (2, "b", 20.0),
        (3, "c", 30.0),
    ]


def test_nmbs_predicate_and_clause_order(spark):
    # first NMBS clause whose predicate holds wins: low-amt absent
    # rows delete, the rest just get flagged
    target = spark.createDataFrame(
        [(1, "a", 5.0), (5, "e", 500.0), (2, "b", 20.0)],
        "id int, name string, amt double",
    )
    stmt = parse_merge(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN NOT MATCHED BY SOURCE AND t.amt < 100 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET name = 'KEEP'"
    )
    out = execute_merge(target, _source(spark), stmt)
    assert _rows(out) == [
        (2, "b", 20.0),      # matched: untouched (no MATCHED clause)
        (5, "KEEP", 500.0),  # absent, amt >= 100: flagged
    ]                        # id=1 absent, amt < 100: deleted


def test_nmbs_set_star_rejected():
    with pytest.raises(ValueError, match="BY SOURCE"):
        parse_merge(
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *"
        )


def test_nmbs_unknown_column_rejected(spark):
    stmt = parse_merge(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET nope = 1"
    )
    with pytest.raises(ValueError, match="unknown column"):
        execute_merge(_target(spark), _source(spark), stmt)
