"""SQL ``MERGE INTO`` front door (SURVEY §2.10 / EP3 extension).

The reference's designed-in SQL staging door is embedded DuckDB SQL
(/root/reference/etl.py:82,127-137; /root/reference/src/db_manager.py:
26-76), and its C2 merge is a join-formulated SCD-1 upsert
(/root/reference/src/log_handler.py:99-128 →
``operators/audit.py:merge_snapshot`` / ``sources/versioned.py``
``VersionedTable.merge``). The statement a lakehouse user actually
types for that operation is ``MERGE INTO``; vanilla Spark only parses
it against v2 catalogs with a delete/update-capable table provider, so
this module supplies a thin, RESTRICTED parser that delegates to the
engine's own merge machinery:

    MERGE INTO <target> [AS t] USING <source> [AS s] ON <condition>
    [WHEN MATCHED [AND <pred>] THEN UPDATE SET * | SET c = expr, ...]
    [WHEN MATCHED [AND <pred>] THEN DELETE]
    [WHEN NOT MATCHED [BY TARGET] [AND <pred>] THEN INSERT * |
                                        INSERT (cols) VALUES (exprs)]
    [WHEN NOT MATCHED BY SOURCE [AND <pred>] THEN DELETE |
                                        UPDATE SET c = expr, ...]

Any number of WHEN clauses; per SQL semantics the FIRST clause (in
statement order, within its match family) whose predicate holds wins
for each row. ``NOT MATCHED BY SOURCE`` clauses see only TARGET
columns (their predicates and SET expressions must not reference the
source side, whose columns are all null there — the standard's rule);
``SET *`` is meaningless in that family and rejected. A statement
combining UPDATE-on-match, INSERT-on-new, and DELETE-when-absent
expresses the reference's authoritative-full-snapshot C2 semantics as
one MERGE. Not supported (documented scope): subqueries as the source
(register a temp view first) and non-deterministic multi-match
resolution — the ON condition should be a key equality, as in every
lakehouse merge.

Execution is ONE full-outer join on the ON condition (single shuffle,
broadcast-eligible when the source is small — exactly the plan you
want at 100 TB), then per-column CASE expressions pick the surviving
value. No driver-side data movement. A cardinality violation (two
source rows matching one target row — rejected by the SQL standard) is
optionally detected with ``check_cardinality=True``, which costs one
extra aggregate over the matched keys.

Lexical rule, shared by all three SQL front doors (this module,
``sql_dml`` and ``sql_qualify``): a comma, paren or keyword counts only
in code, i.e. outside ``'…'`` and ``"…"`` string literals (where a
backslash escapes the next character, as in Spark) and outside
backtick-quoted identifiers. A keyword is a whole ``\\w+`` word at
paren depth 0, so ``from1`` is never ``FROM``. ``_scan`` and
``_top_level_words`` implement the rule; every splitter is built on
them.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["MergeStatement", "parse_merge", "execute_merge", "merge_into"]

_T_MARK = "mrg_t_present"
_T_RID = "mrg_t_rid"
_S_MARK = "mrg_s_present"
_ACT = "mrg_action"
# action codes
_KEEP = 0        # surviving target row, unchanged
_DROP = -1       # source-only row with no applicable INSERT clause
_MATCHED_BASE = 100
_INSERT_BASE = 200
_NMBS_BASE = 300  # NOT MATCHED BY SOURCE clause family


@dataclass
class _MatchedClause:
    predicate: str | None  # extra AND predicate, or None
    kind: str              # "update" | "delete"
    set_star: bool = False
    assignments: dict[str, str] = field(default_factory=dict)


@dataclass
class _NotMatchedClause:
    predicate: str | None
    insert_star: bool = False
    columns: list[str] = field(default_factory=list)
    values: list[str] = field(default_factory=list)


@dataclass
class MergeStatement:
    target: str
    target_alias: str
    source: str
    source_alias: str
    on: str
    matched: list[_MatchedClause]
    not_matched: list[_NotMatchedClause]
    # WHEN NOT MATCHED BY SOURCE: target rows with no source match.
    # Reuses _MatchedClause (kind update/delete, target-only exprs;
    # set_star is never produced by the parser for this family).
    not_matched_by_source: list[_MatchedClause] = field(
        default_factory=list
    )


_HEAD_RE = re.compile(
    r"""^\s*MERGE\s+INTO\s+(?P<target>[\w.]+)
        (?:\s+(?:AS\s+)?(?P<talias>(?!USING\b)\w+))?
        \s+USING\s+(?P<source>[\w.]+)
        (?:\s+(?:AS\s+)?(?P<salias>(?!ON\b)\w+))?
        \s+ON\s+(?P<rest>.+)$""",
    re.IGNORECASE | re.DOTALL | re.VERBOSE,
)
_WHEN_HEAD_RE = re.compile(r"WHEN\s+(?:NOT\s+)?MATCHED\b", re.IGNORECASE)
_MATCHED_RE = re.compile(
    r"""^MATCHED(?:\s+AND\s+(?P<pred>.+?))?\s+THEN\s+
        (?:(?P<delete>DELETE)
         |UPDATE\s+SET\s+(?P<sets>.+))\s*$""",
    re.IGNORECASE | re.DOTALL | re.VERBOSE,
)
_NOT_MATCHED_RE = re.compile(
    r"""^NOT\s+MATCHED(?:\s+BY\s+TARGET)?(?:\s+AND\s+(?P<pred>.+?))?
        \s+THEN\s+INSERT\s*
        (?:(?P<star>\*)
         |\((?P<cols>[^)]*)\)\s*VALUES\s*\((?P<vals>.+)\))\s*$""",
    re.IGNORECASE | re.DOTALL | re.VERBOSE,
)
_NMBS_RE = re.compile(
    r"""^NOT\s+MATCHED\s+BY\s+SOURCE(?:\s+AND\s+(?P<pred>.+?))?\s+THEN\s+
        (?:(?P<delete>DELETE)
         |UPDATE\s+SET\s+(?P<sets>.+))\s*$""",
    re.IGNORECASE | re.DOTALL | re.VERBOSE,
)


def _scan(text: str):
    """Yield ``(index, char, depth)`` for each code character of
    ``text`` (the lexical rule in the module docstring). ``depth`` is
    the paren depth around the character: a ``(`` and its matching
    ``)`` both report the depth outside them."""
    depth, quote, escaped = 0, None, False
    for i, ch in enumerate(text):
        if quote:
            if escaped:
                escaped = False
            elif ch == "\\" and quote != "`":
                escaped = True
            elif ch == quote:
                quote = None
            continue
        if ch in "'\"`":
            quote = ch
            continue
        if ch == ")":
            depth -= 1
        yield i, ch, depth
        if ch == "(":
            depth += 1


def _top_level_words(text: str):
    """Yield ``(WORD, start)`` for each whole ``\\w+`` word of code
    at paren depth 0, upper-cased."""
    top = {i for i, _, depth in _scan(text) if depth == 0}
    for m in re.finditer(r"\w+", text):
        if m.start() in top:
            yield m.group().upper(), m.start()


def _split_when_clauses(text: str) -> list[str]:
    """Split ``<on> WHEN ... WHEN ...`` at each top-level ``WHEN``
    that opens a ``[NOT] MATCHED`` clause; the pieces after the first
    drop their leading ``WHEN``."""
    pieces, start = [], 0
    for word, i in _top_level_words(text):
        if word == "WHEN" and _WHEN_HEAD_RE.match(text, i):
            pieces.append(text[start:i])
            start = i + len("WHEN")
    pieces.append(text[start:])
    return pieces


def _split_top_level(text: str) -> list[str]:
    """Split on top-level commas, stripping each part; a blank last
    part is dropped — enough for restricted SET / VALUES lists."""
    cuts = [i for i, ch, depth in _scan(text) if ch == "," and depth == 0]
    parts = [
        text[a + 1 : b].strip()
        for a, b in zip([-1, *cuts], [*cuts, len(text)])
    ]
    return parts if parts[-1] else parts[:-1]


def _strip_alias(col: str, aliases: tuple[str, ...]) -> str:
    col = col.strip()
    for a in aliases:
        if col.lower().startswith(a.lower() + "."):
            return col[len(a) + 1 :]
    return col


def parse_merge(statement: str) -> MergeStatement:
    """Parse the restricted MERGE grammar. Raises ValueError with the
    offending fragment on anything outside the documented subset."""
    stmt = statement.strip().rstrip(";").strip()
    head = _HEAD_RE.match(stmt)
    if not head:
        raise ValueError(
            "not a recognizable MERGE INTO statement (expected "
            "'MERGE INTO t USING s ON cond WHEN ...'): "
            f"{statement[:120]!r}"
        )
    rest = head.group("rest")
    pieces = _split_when_clauses(rest)
    on = pieces[0].strip()
    if not on:
        raise ValueError("empty ON condition")
    if not pieces[1:]:
        raise ValueError("MERGE needs at least one WHEN clause")
    target_alias = head.group("talias") or head.group("target")
    source_alias = head.group("salias") or head.group("source")
    matched: list[_MatchedClause] = []
    not_matched: list[_NotMatchedClause] = []
    not_matched_by_source: list[_MatchedClause] = []

    def parse_assignments(sets: str) -> dict[str, str]:
        assignments: dict[str, str] = {}
        for part in _split_top_level(sets):
            if "=" not in part:
                raise ValueError(f"bad SET assignment: {part!r}")
            lhs, rhs = part.split("=", 1)
            col = _strip_alias(lhs, (target_alias,))
            if not re.fullmatch(r"\w+", col):
                raise ValueError(
                    f"SET target must be a target column: {lhs!r}"
                )
            assignments[col] = rhs.strip()
        return assignments

    for piece in pieces[1:]:
        piece = piece.strip()
        nb = _NMBS_RE.match(piece)
        if nb:
            if nb.group("delete"):
                not_matched_by_source.append(
                    _MatchedClause(predicate=nb.group("pred"), kind="delete")
                )
            else:
                sets = nb.group("sets").strip()
                if sets == "*":
                    raise ValueError(
                        "UPDATE SET * is meaningless in WHEN NOT MATCHED "
                        "BY SOURCE (there is no source row to copy) — "
                        "name the assignments"
                    )
                not_matched_by_source.append(
                    _MatchedClause(
                        predicate=nb.group("pred"),
                        kind="update",
                        assignments=parse_assignments(sets),
                    )
                )
            continue
        m = _MATCHED_RE.match(piece)
        if m:
            if m.group("delete"):
                matched.append(
                    _MatchedClause(predicate=m.group("pred"), kind="delete")
                )
            else:
                sets = m.group("sets").strip()
                if sets == "*":
                    matched.append(
                        _MatchedClause(
                            predicate=m.group("pred"),
                            kind="update",
                            set_star=True,
                        )
                    )
                else:
                    matched.append(
                        _MatchedClause(
                            predicate=m.group("pred"),
                            kind="update",
                            assignments=parse_assignments(sets),
                        )
                    )
            continue
        nm = _NOT_MATCHED_RE.match(piece)
        if nm:
            if nm.group("star"):
                not_matched.append(
                    _NotMatchedClause(
                        predicate=nm.group("pred"), insert_star=True
                    )
                )
            else:
                cols = [
                    _strip_alias(c, (target_alias,))
                    for c in _split_top_level(nm.group("cols"))
                ]
                vals = _split_top_level(nm.group("vals"))
                if len(cols) != len(vals):
                    raise ValueError(
                        f"INSERT column/value arity mismatch: {len(cols)} "
                        f"columns vs {len(vals)} values"
                    )
                not_matched.append(
                    _NotMatchedClause(
                        predicate=nm.group("pred"),
                        columns=cols,
                        values=vals,
                    )
                )
            continue
        raise ValueError(f"unrecognized WHEN clause: WHEN {piece[:80]!r}")
    return MergeStatement(
        target=head.group("target"),
        target_alias=target_alias,
        source=head.group("source"),
        source_alias=source_alias,
        on=on,
        matched=matched,
        not_matched=not_matched,
        not_matched_by_source=not_matched_by_source,
    )


def _first_match(clauses, base: int, default: int) -> Column:
    """CASE picking the first clause (by statement order) whose AND
    predicate holds; ``default`` when none does."""
    expr: Column = F.lit(default)
    for i, cl in reversed(list(enumerate(clauses))):
        pred = F.expr(cl.predicate) if cl.predicate else F.lit(True)
        expr = F.when(pred, F.lit(base + i)).otherwise(expr)
    return expr


def execute_merge(
    target_df: DataFrame,
    source_df: DataFrame,
    stmt: MergeStatement,
    check_cardinality: bool = False,
) -> DataFrame:
    """Evaluate a parsed MERGE against two DataFrames; returns the new
    target state (lazy). One full-outer join on the ON condition; all
    row-fate logic is per-column CASE expressions — whole-stage
    codegen, no Python in the row path.

    ``check_cardinality=True`` enforces the SQL-standard rule that a
    target ROW may match at most one source row, identified by a
    physical row id (``monotonically_increasing_id`` tagged on the
    target before the join) — so two genuinely duplicate target rows
    each matching one source row are fine. NOTE: the check runs
    EAGERLY (it is a Spark action) during this call, before the lazy
    merged plan is returned."""
    out_cols = list(target_df.columns)
    tcols = set(out_cols)
    scols = set(source_df.columns)
    ta, sa = stmt.target_alias, stmt.source_alias
    for cl in stmt.matched:
        if cl.kind == "update" and cl.set_star and tcols - scols:
            raise ValueError(
                "UPDATE SET * needs the source to carry every target "
                f"column; missing {sorted(tcols - scols)}"
            )
        for col in cl.assignments:
            if col not in tcols:
                raise ValueError(f"SET references unknown column {col!r}")
    for cl in stmt.not_matched:
        if cl.insert_star and tcols - scols:
            raise ValueError(
                "INSERT * needs the source to carry every target "
                f"column; missing {sorted(tcols - scols)}"
            )
        for col in cl.columns:
            if col not in tcols:
                raise ValueError(f"INSERT references unknown column {col!r}")
    for cl in stmt.not_matched_by_source:
        for col in cl.assignments:
            if col not in tcols:
                raise ValueError(f"SET references unknown column {col!r}")

    t = target_df.withColumn(_T_MARK, F.lit(True))
    if check_cardinality:
        t = t.withColumn(_T_RID, F.monotonically_increasing_id())
    t = t.alias(ta)
    s = source_df.withColumn(_S_MARK, F.lit(True)).alias(sa)
    joined = t.join(s, F.expr(stmt.on), "full_outer")
    t_here = F.col(f"{ta}.{_T_MARK}").isNotNull()
    s_here = F.col(f"{sa}.{_S_MARK}").isNotNull()

    if check_cardinality:
        # SQL standard: a target ROW may match at most one source row.
        # Grouped by the physical row id, not the column tuple, so
        # duplicate target rows each matching one source row do NOT
        # trip the check. One extra aggregate, opt-in, EAGER (action).
        dup = (
            joined.filter(t_here & s_here)
            .groupBy(F.col(f"{ta}.{_T_RID}"))
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "MERGE cardinality violation: a target row matches "
                "more than one source row"
            )

    action = (
        F.when(
            t_here & s_here,
            _first_match(stmt.matched, _MATCHED_BASE, _KEEP),
        )
        # target-only rows: NOT MATCHED BY SOURCE family (predicates
        # and SETs see target columns only — source side is all null)
        .when(
            t_here,
            _first_match(stmt.not_matched_by_source, _NMBS_BASE, _KEEP),
        )
        .otherwise(_first_match(stmt.not_matched, _INSERT_BASE, _DROP))
    )
    delete_ids = [
        _MATCHED_BASE + i
        for i, cl in enumerate(stmt.matched)
        if cl.kind == "delete"
    ] + [
        _NMBS_BASE + i
        for i, cl in enumerate(stmt.not_matched_by_source)
        if cl.kind == "delete"
    ]
    kept = joined.withColumn(_ACT, action).filter(
        (F.col(_ACT) != _DROP)
        & (~F.col(_ACT).isin(delete_ids) if delete_ids else F.lit(True))
    )

    def tcol(c: str) -> Column:
        return F.col(f"{ta}.{c}")

    def scol(c: str) -> Column:
        return F.col(f"{sa}.{c}")

    final_cols = []
    for c in out_cols:
        dtype = target_df.schema[c].dataType
        expr = F.when(F.col(_ACT) == _KEEP, tcol(c))
        for i, cl in enumerate(stmt.matched):
            if cl.kind != "update":
                continue
            if cl.set_star:
                val = scol(c)
            elif c in cl.assignments:
                # cast to the target column dtype, exactly as INSERT
                # VALUES are — a type-drifting SET (e.g. n = '1')
                # coerces instead of exploding the CASE branch types
                val = F.expr(cl.assignments[c]).cast(dtype)
            else:
                val = tcol(c)
            expr = expr.when(F.col(_ACT) == _MATCHED_BASE + i, val)
        for i, cl in enumerate(stmt.not_matched):
            if cl.insert_star:
                val = scol(c)
            elif c in cl.columns:
                val = F.expr(cl.values[cl.columns.index(c)]).cast(dtype)
            else:
                val = F.lit(None).cast(dtype)
            expr = expr.when(F.col(_ACT) == _INSERT_BASE + i, val)
        for i, cl in enumerate(stmt.not_matched_by_source):
            if cl.kind != "update":
                continue
            val = (
                F.expr(cl.assignments[c]).cast(dtype)
                if c in cl.assignments
                else tcol(c)
            )
            expr = expr.when(F.col(_ACT) == _NMBS_BASE + i, val)
        final_cols.append(expr.alias(c))
    return kept.select(*final_cols)


def merge_into(
    spark: SparkSession,
    statement: str,
    check_cardinality: bool = False,
) -> DataFrame:
    """Parse + execute a MERGE INTO statement.

    Target and source names resolve against the session catalog (temp
    views / tables). The merged state is returned lazily and the
    caller materializes it.
    """
    stmt = parse_merge(statement)
    return execute_merge(
        spark.table(stmt.target),
        spark.table(stmt.source),
        stmt,
        check_cardinality=check_cardinality,
    )
