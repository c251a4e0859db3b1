"""Tests for the SQL UPDATE / DELETE front doors
(fbs_data_pipelines_spark/sql_dml.py) — the remaining EP3 staging-DML
statements (/root/reference/etl.py:82,127-137 embedded-SQL door)
beside MERGE INTO. Covers: parse (aliases, WHERE splitting incl.
literals containing 'WHERE', rejections), Kleene WHERE semantics on
both statements, dtype coercion on SET, missing-WHERE = all rows, and
the session-catalog front door."""

from __future__ import annotations

import pytest

from fbs_data_pipelines_spark.sql_dml import (
    execute_delete,
    execute_update,
    parse_delete,
    parse_update,
    sql_delete,
    sql_update,
)


def _target(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0)],
        "id int, name string, amt double",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# --- parsing ---------------------------------------------------------------


def test_parse_update_full():
    stmt = parse_update(
        "UPDATE tgt AS t SET name = upper(t.name), amt = t.amt * 2 "
        "WHERE t.id > 1"
    )
    assert stmt.target == "tgt" and stmt.target_alias == "t"
    assert stmt.assignments == {
        "name": "upper(t.name)",
        "amt": "t.amt * 2",
    }
    assert stmt.where.strip() == "t.id > 1"


def test_parse_update_where_inside_literal_does_not_split():
    stmt = parse_update(
        "UPDATE tgt SET name = 'WHERE am I' WHERE id = 1"
    )
    assert stmt.assignments == {"name": "'WHERE am I'"}
    assert stmt.where.strip() == "id = 1"


def test_parse_delete_optional_where():
    d1 = parse_delete("DELETE FROM tgt AS t WHERE t.amt > 5")
    assert d1.target == "tgt" and d1.where.strip() == "t.amt > 5"
    d2 = parse_delete("DELETE FROM tgt")
    assert d2.where is None


@pytest.mark.parametrize(
    "bad,parser",
    [
        ("SELECT 1", parse_update),
        ("UPDATE tgt SET", parse_update),
        ("UPDATE tgt SET id + 1 WHERE x", parse_update),
        ("DELETE tgt WHERE x = 1", parse_delete),
    ],
)
def test_parse_rejections(bad, parser):
    with pytest.raises(ValueError):
        parser(bad)


# --- execution -------------------------------------------------------------


def test_update_with_where_and_coercion(spark):
    stmt = parse_update(
        "UPDATE t SET amt = '99' WHERE t.id >= 2"
    )
    out = execute_update(_target(spark), stmt)
    assert dict(out.dtypes)["amt"] == "double"
    assert _rows(out) == [
        (1, "a", 10.0),
        (2, "b", 99.0),
        (3, None, 99.0),
    ]


def test_update_kleene_null_predicate_leaves_row(spark):
    # name is null for id=3: the predicate is null there -> NOT updated
    stmt = parse_update("UPDATE t SET amt = 0 WHERE t.name != 'a'")
    out = execute_update(_target(spark), stmt)
    assert _rows(out) == [
        (1, "a", 10.0),
        (2, "b", 0.0),
        (3, None, 30.0),
    ]


def test_update_no_where_hits_all(spark):
    stmt = parse_update("UPDATE t SET amt = t.amt + 1")
    out = execute_update(_target(spark), stmt)
    assert [r[2] for r in _rows(out)] == [11.0, 21.0, 31.0]


def test_delete_kleene_null_predicate_keeps_row(spark):
    stmt = parse_delete("DELETE FROM t WHERE t.name != 'a'")
    out = execute_delete(_target(spark), stmt)
    # id=2 deleted (true); id=1 kept (false); id=3 kept (null)
    assert _rows(out) == [(1, "a", 10.0), (3, None, 30.0)]


def test_delete_no_where_empties_table(spark):
    out = execute_delete(_target(spark), parse_delete("DELETE FROM t"))
    assert out.count() == 0
    assert out.columns == ["id", "name", "amt"]


def test_update_unknown_column_rejected(spark):
    with pytest.raises(ValueError, match="unknown column"):
        execute_update(
            _target(spark), parse_update("UPDATE t SET nope = 1")
        )


# --- front doors -----------------------------------------------------------


def test_sql_update_and_delete_against_views(spark):
    _target(spark).createOrReplaceTempView("dml_t")
    out = sql_update(
        spark, "UPDATE dml_t SET amt = amt * 10 WHERE id = 1"
    )
    assert _rows(out)[0] == (1, "a", 100.0)
    out2 = sql_delete(spark, "DELETE FROM dml_t WHERE id = 2")
    assert [r[0] for r in _rows(out2)] == [1, 3]


