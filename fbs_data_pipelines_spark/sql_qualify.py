"""QUALIFY clause front door.

Spark SQL (4.1) does not parse ``QUALIFY``; DuckDB / BigQuery /
Snowflake do (filter on window-function results without writing the
subquery by hand — the reference's embedded-SQL door
(/root/reference/src/db_manager.py:26-76) is DuckDB, where QUALIFY is
idiomatic). ``sql_qualify`` accepts the QUALIFY dialect and rewrites
it to plain Spark SQL at the string level:

    SELECT <list> FROM … [WHERE …] [GROUP BY …] [HAVING …]
    QUALIFY <pred> [ORDER BY …] [LIMIT …]

becomes

    SELECT * FROM (
        SELECT <list>, (<pred'>) AS __qualify FROM … WHERE … GROUP BY …
    ) __qualify_sub WHERE __qualify [ORDER BY …] [LIMIT …]

with the helper column dropped from the returned DataFrame. Window
functions are legal in a projection, so the predicate — which may
contain its own ``OVER (…)`` calls — moves there verbatim;
select-list ALIASES referenced by the predicate (``QUALIFY rn <= 2``)
are substituted with their defining expressions (``<pred'>``), which
implements standard QUALIFY scoping without relying on Spark's
lateral-column-alias resolution. Trailing ORDER BY / LIMIT attach to
the OUTER query, so they see the filtered rows — exactly QUALIFY's
evaluation order (WHERE → GROUP BY/HAVING → windows → QUALIFY →
ORDER BY → LIMIT).

All scanning follows the lexical rule in ``sql_merge``'s docstring,
so literals like ``'not a QUALIFY'`` or subqueries in the select list
never split mid-expression. ``SELECT DISTINCT … QUALIFY``
is rejected (appending the helper column would change the distinct
key); statements without a top-level QUALIFY pass through to
``spark.sql`` untouched.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from fbs_data_pipelines_spark.sql_merge import (
    _scan,
    _split_top_level,
    _top_level_words,
)


def _select_aliases(select_list: str) -> dict[str, str]:
    """alias -> defining expression for every ``<expr> AS <alias>``
    item of a top-level select list."""
    aliases: dict[str, str] = {}
    for item in _split_top_level(select_list):
        m = re.match(
            r"(.*)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)\s*$",
            item,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            aliases[m.group(2)] = m.group(1).strip()
    return aliases


def rewrite_qualify(statement: str) -> str | None:
    """The rewritten plain-SQL text, or None when the statement has
    no top-level QUALIFY (caller should run it untouched)."""
    text = statement.strip().rstrip(";")
    pos = list(_top_level_words(text))
    qual = [p for w, p in pos if w == "QUALIFY"]
    if not qual:
        return None
    if len(qual) > 1:
        raise ValueError("multiple top-level QUALIFY clauses")
    qstart = qual[0]
    selects = [p for w, p in pos if w == "SELECT"]
    froms = [p for w, p in pos if w == "FROM" and p < qstart]
    if not selects or not froms:
        raise ValueError("QUALIFY requires a top-level SELECT … FROM")
    sel_start = selects[0] + len("SELECT")
    head = text[: selects[0]]  # a WITH clause, if any
    if re.match(r"\s*DISTINCT\b", text[sel_start:], re.IGNORECASE):
        raise ValueError(
            "SELECT DISTINCT … QUALIFY is not supported (the helper "
            "column would change the distinct key) — write the "
            "subquery explicitly"
        )
    from_start = froms[0]
    select_list = text[sel_start:from_start]
    # trailing ORDER BY / LIMIT after the predicate move OUTSIDE
    tail_marks = [p for w, p in pos if w in ("ORDER", "LIMIT") and p > qstart]
    pred_end = min(tail_marks) if tail_marks else len(text)
    pred = text[qstart + len("QUALIFY") : pred_end].strip()
    trailing = text[pred_end:].strip()
    body = text[from_start:qstart]  # FROM … [WHERE/GROUP BY/HAVING …]
    for alias, expr in _select_aliases(select_list).items():
        pred = re.sub(
            rf"\b{re.escape(alias)}\b", f"({expr})", pred, flags=re.IGNORECASE
        )
    inner = (
        f"{head}SELECT {select_list.strip()}, ({pred}) AS __qualify "
        f"{body.strip()}"
    )
    outer = f"SELECT * FROM ({inner}) __qualify_sub WHERE __qualify"
    if trailing:
        outer = f"{outer} {trailing}"
    return outer


def sql_qualify(spark: SparkSession, statement: str) -> DataFrame:
    """Run a statement that may use the QUALIFY dialect. Plain
    statements pass straight through to ``spark.sql``; QUALIFY
    statements are rewritten (see module docstring) and the helper
    column is dropped before returning — the result schema is exactly
    the original select list."""
    rewritten = rewrite_qualify(statement)
    if rewritten is None:
        return spark.sql(statement)
    return spark.sql(rewritten).drop("__qualify")


_STAR_MOD_HEAD = re.compile(
    r"^\*\s+(EXCLUDE|REPLACE)\s*\(", re.IGNORECASE
)


def _parse_modifiers(item: str) -> tuple[list[str], dict[str, str]] | None:
    """Parse a select-list item of the form
    ``* [EXCLUDE (a, b)] [REPLACE (expr AS c, …)]`` (either order,
    each at most once). Returns (excluded names, {col: replacement
    expr}) or None when the item is not a star-modifier item."""
    text = item.strip()
    if not _STAR_MOD_HEAD.match(text):
        return None
    rest = text[1:].strip()
    excluded: list[str] = []
    replaced: dict[str, str] = {}
    while rest:
        m = re.match(r"(EXCLUDE|REPLACE)\s*\(", rest, re.IGNORECASE)
        if not m:
            raise ValueError(f"unparseable star modifier tail: {rest!r}")
        kind = m.group(1).upper()
        close = next(
            (i for i, ch, depth in _scan(rest) if ch == ")" and depth == 0),
            None,
        )
        if close is None:
            raise ValueError(f"unbalanced parens in star modifier: {item!r}")
        body = rest[m.end() : close]
        if kind == "EXCLUDE":
            if excluded:
                raise ValueError("duplicate EXCLUDE modifier")
            excluded = [c.strip() for c in _split_top_level(body)]
        else:
            if replaced:
                raise ValueError("duplicate REPLACE modifier")
            for piece in _split_top_level(body):
                pm = re.match(
                    r"(.*)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)\s*$",
                    piece,
                    re.IGNORECASE | re.DOTALL,
                )
                if not pm:
                    raise ValueError(
                        f"REPLACE items need '<expr> AS <col>': {piece!r}"
                    )
                replaced[pm.group(2)] = pm.group(1).strip()
        rest = rest[close + 1 :].strip()
    return excluded, replaced


def expand_star_modifiers(spark: SparkSession, statement: str) -> str:
    """Expand DuckDB-dialect ``* EXCLUDE (…) REPLACE (… AS c)`` star
    modifiers into an explicit column list, resolved against the
    analyzed schema of the FROM clause (``SELECT * FROM <body>`` is
    analyzed, never executed). Statements without star modifiers are
    returned untouched. Restrictions (each raises): only the bare
    ``*`` (not ``t.*``) takes modifiers; no GROUP BY in the same
    query block (star expansion under grouping is ambiguous);
    EXCLUDE/REPLACE names must exist in the schema."""
    text = statement.strip().rstrip(";")
    pos = list(_top_level_words(text))
    selects = [p for w, p in pos if w == "SELECT"]
    froms = [p for w, p in pos if w == "FROM"]
    if not selects or not froms:
        return statement
    sel_start = selects[0] + len("SELECT")
    from_start = froms[0]
    select_list = text[sel_start:from_start]
    items = _split_top_level(select_list)
    parsed = [(i, _parse_modifiers(it)) for i, it in enumerate(items)]
    hits = [(i, p) for i, p in parsed if p is not None]
    if not hits:
        return statement
    if len(hits) > 1:
        raise ValueError("multiple star-modifier items")
    if re.search(r"\bGROUP\s+BY\b", text[from_start:], re.IGNORECASE):
        raise ValueError(
            "star modifiers with GROUP BY are not supported — list "
            "the columns explicitly"
        )
    # the FROM body up to the first trailing clause: schema probe
    stop = [
        p
        for w, p in pos
        if w in ("QUALIFY", "ORDER", "LIMIT") and p > from_start
    ]
    body_end = min(stop) if stop else len(text)
    probe = f"SELECT * {text[from_start:body_end]}"
    cols = spark.sql(probe).columns  # analysis only — nothing runs
    idx, (excluded, replaced) = hits[0]
    missing = [c for c in excluded if c not in cols] + [
        c for c in replaced if c not in cols
    ]
    if missing:
        raise ValueError(f"star modifier names not in schema: {missing}")
    expansion = ", ".join(
        f"({replaced[c]}) AS {c}" if c in replaced else c
        for c in cols
        if c not in excluded
    )
    items[idx] = expansion
    return (
        text[: selects[0]]
        + "SELECT "
        + ", ".join(items)
        + " "
        + text[from_start:]
    )


def sql_dialect(spark: SparkSession, statement: str) -> DataFrame:
    """The combined dialect front door: DuckDB star modifiers
    (``* EXCLUDE/REPLACE``) expanded first, then the QUALIFY rewrite
    — the two compose (a QUALIFY filter over a modified star list is
    the idiomatic DuckDB top-n-per-group-with-projection shape)."""
    return sql_qualify(spark, expand_star_modifiers(spark, statement))


def sql_time_travel(spark: SparkSession, statement: str, tables) -> DataFrame:
    """Delta/Iceberg-style time-travel SQL over the engine's
    VersionedTable: ``FROM <name> VERSION AS OF <n>`` (optional
    ``FOR`` prefix, any casing) resolves to the table's immutable
    snapshot ``n``; a plain ``<name>`` reference resolves to the
    LATEST version. ``tables`` maps names to ``VersionedTable``
    instances. Each distinct (name, version) registers one temp view
    over ``vt.read(version)`` — snapshot reads scan immutable
    directories, so concurrent commits cannot shear the query. The
    rewritten text then flows through ``sql_dialect`` (star
    modifiers + QUALIFY compose with time travel). Quote-aware:
    a string literal containing 'VERSION AS OF' never rewrites."""
    out = statement
    for name, vt in tables.items():
        vt.read().createOrReplaceTempView(name)
        pattern = re.compile(
            rf"\b{re.escape(name)}\s+(?:FOR\s+)?VERSION\s+AS\s+OF\s+(\d+)",
            re.IGNORECASE,
        )
        code = {i for i, _, _ in _scan(out)}
        pieces, last = [], 0
        for m in pattern.finditer(out):
            if m.start() not in code:
                continue
            version = int(m.group(1))
            view = f"__{name}_v{version}"
            vt.read(version).createOrReplaceTempView(view)
            pieces.append(out[last : m.start()])
            pieces.append(view)
            last = m.end()
        pieces.append(out[last:])
        out = "".join(pieces)
    return sql_dialect(spark, out)
