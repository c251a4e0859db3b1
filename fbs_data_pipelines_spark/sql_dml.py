"""SQL ``UPDATE`` / ``DELETE`` front doors (EP3 extension, the DML
siblings of ``sql_merge.py``).

The reference's designed-in SQL staging door is embedded DuckDB SQL
(/root/reference/etl.py:82,127-137), where a maintainer types plain
``UPDATE t SET ... WHERE ...`` / ``DELETE FROM t WHERE ...`` against
staged tables. Vanilla Spark SQL parses these only against v2
catalogs with delete/update-capable providers; this module supplies
the restricted statements over the engine's own machinery:

    UPDATE <target> [AS t] SET c = expr[, ...] [WHERE <pred>]
    DELETE FROM <target> [AS t] [WHERE <pred>]

Execution is a pure projection/filter over the current state — no
join, no shuffle, whole-stage codegen (a CASE per SET column guarded
by the WHERE predicate; a negated filter for DELETE). Missing WHERE
means all rows (the SQL standard's rule), same as everywhere.

Targets resolve like ``merge_into``, against the session catalog
(temp views; the new state is returned lazily for the caller to
materialize). SET values are cast to the target column dtype (the
coercion users expect, mirroring ``sql_merge``). WHERE uses Kleene
SQL semantics: null-predicate rows are NOT updated and NOT deleted.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fbs_data_pipelines_spark.sql_merge import (
    _split_top_level,
    _strip_alias,
    _top_level_words,
)

__all__ = [
    "UpdateStatement",
    "DeleteStatement",
    "parse_update",
    "parse_delete",
    "execute_update",
    "execute_delete",
    "sql_update",
    "sql_delete",
]


@dataclass
class UpdateStatement:
    target: str
    target_alias: str
    assignments: dict[str, str] = field(default_factory=dict)
    where: str | None = None


@dataclass
class DeleteStatement:
    target: str
    target_alias: str
    where: str | None = None


_UPDATE_RE = re.compile(
    r"""^\s*UPDATE\s+(?P<target>[\w.]+)
        (?:\s+(?:AS\s+)?(?P<alias>(?!SET\b)\w+))?
        \s+SET\s+(?P<rest>.+)$""",
    re.IGNORECASE | re.DOTALL | re.VERBOSE,
)
_DELETE_RE = re.compile(
    r"""^\s*DELETE\s+FROM\s+(?P<target>[\w.]+)
        (?:\s+(?:AS\s+)?(?P<alias>(?!WHERE\b)\w+))?
        (?:\s+WHERE\s+(?P<where>.+))?\s*$""",
    re.IGNORECASE | re.DOTALL | re.VERBOSE,
)


def _split_where(rest: str) -> tuple[str, str | None]:
    """Split ``SET ... [WHERE ...]`` at the last top-level ``WHERE``,
    so a WHERE in a literal or a subexpression never cuts the SET
    list."""
    wheres = [i for word, i in _top_level_words(rest) if word == "WHERE"]
    if not wheres:
        return rest.strip(), None
    p = wheres[-1]
    return rest[:p].strip(), rest[p + len("WHERE") :].strip()


def parse_update(statement: str) -> UpdateStatement:
    stmt = statement.strip().rstrip(";").strip()
    m = _UPDATE_RE.match(stmt)
    if not m:
        raise ValueError(
            "not a recognizable UPDATE statement (expected "
            f"'UPDATE t SET c = expr [WHERE pred]'): {statement[:120]!r}"
        )
    alias = m.group("alias") or m.group("target")
    sets, where = _split_where(m.group("rest"))
    assignments: dict[str, str] = {}
    for part in _split_top_level(sets):
        if "=" not in part:
            raise ValueError(f"bad SET assignment: {part!r}")
        lhs, rhs = part.split("=", 1)
        col = _strip_alias(lhs, (alias,))
        if not re.fullmatch(r"\w+", col):
            raise ValueError(f"SET target must be a column: {lhs!r}")
        assignments[col] = rhs.strip()
    if not assignments:
        raise ValueError("UPDATE needs at least one SET assignment")
    return UpdateStatement(
        target=m.group("target"),
        target_alias=alias,
        assignments=assignments,
        where=where,
    )


def parse_delete(statement: str) -> DeleteStatement:
    stmt = statement.strip().rstrip(";").strip()
    m = _DELETE_RE.match(stmt)
    if not m:
        raise ValueError(
            "not a recognizable DELETE statement (expected "
            f"'DELETE FROM t [WHERE pred]'): {statement[:120]!r}"
        )
    return DeleteStatement(
        target=m.group("target"),
        target_alias=m.group("alias") or m.group("target"),
        where=m.group("where"),
    )


def execute_update(target_df: DataFrame, stmt: UpdateStatement) -> DataFrame:
    """New target state (lazy): per-SET-column CASE guarded by the
    WHERE predicate — projection only, no shuffle. Kleene WHERE: a
    null predicate leaves the row unchanged."""
    tcols = set(target_df.columns)
    for col in stmt.assignments:
        if col not in tcols:
            raise ValueError(f"SET references unknown column {col!r}")
    t = target_df.alias(stmt.target_alias)
    hit = (
        F.coalesce(F.expr(stmt.where).cast("boolean"), F.lit(False))
        if stmt.where
        else F.lit(True)
    )
    out = []
    for c in target_df.columns:
        if c in stmt.assignments:
            dtype = target_df.schema[c].dataType
            out.append(
                F.when(hit, F.expr(stmt.assignments[c]).cast(dtype))
                .otherwise(F.col(f"{stmt.target_alias}.{c}"))
                .alias(c)
            )
        else:
            out.append(F.col(f"{stmt.target_alias}.{c}").alias(c))
    return t.select(*out)


def execute_delete(target_df: DataFrame, stmt: DeleteStatement) -> DataFrame:
    """Surviving rows (lazy): negated Kleene filter — a null
    predicate KEEPS the row (SQL DELETE only removes TRUE matches)."""
    if not stmt.where:
        return target_df.filter(F.lit(False))
    t = target_df.alias(stmt.target_alias)
    hit = F.coalesce(F.expr(stmt.where).cast("boolean"), F.lit(False))
    return t.filter(~hit)


def sql_update(spark: SparkSession, statement: str) -> DataFrame:
    """Parse + execute UPDATE against a session-catalog target; the
    new state is returned lazily."""
    stmt = parse_update(statement)
    return execute_update(spark.table(stmt.target), stmt)


def sql_delete(spark: SparkSession, statement: str) -> DataFrame:
    """Parse + execute DELETE against a session-catalog target; the
    new state is returned lazily."""
    stmt = parse_delete(statement)
    return execute_delete(spark.table(stmt.target), stmt)
