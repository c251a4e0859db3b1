"""The SQL front doors' one lexer (``sql_merge._scan`` /
``_top_level_words``): a differential test against the per-site
quote/paren state machines it replaced, plus one case per front door
for the two rules those machines got wrong (a keyword followed by
digits is not the keyword; a backslash escapes a quote inside a
literal). Pure Python, no Spark session."""

from __future__ import annotations

import re

import pytest
from hypothesis import assume, given, settings
from hypothesis import strategies as st

from fbs_data_pipelines_spark.sql_dml import _split_where, parse_update
from fbs_data_pipelines_spark.sql_merge import (
    _WHEN_HEAD_RE,
    _split_top_level,
    _split_when_clauses,
    _top_level_words,
    parse_merge,
)
from fbs_data_pipelines_spark.sql_qualify import rewrite_qualify, sql_time_travel

# --- references: the replaced state machines, copied unchanged. They
# agree with the new lexer on text without backslashes or backticks,
# except that they read a keyword followed by digits (``from1``) as
# the keyword.

_KEYWORD = {"QUALIFY", "FROM", "SELECT", "ORDER", "LIMIT"}


def _ref_split_when_clauses(text: str) -> list[str]:
    pieces: list[str] = []
    depth, quote, start, i, n = 0, None, 0, 0, len(text)
    while i < n:
        ch = text[i]
        if quote:
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in ("'", '"'):
            quote = ch
            i += 1
            continue
        if ch == "(":
            depth += 1
            i += 1
            continue
        if ch == ")":
            depth -= 1
            i += 1
            continue
        if (
            depth == 0
            and (i == 0 or not (text[i - 1].isalnum() or text[i - 1] == "_"))
        ):
            m = _WHEN_HEAD_RE.match(text, i)
            if m:
                pieces.append(text[start:i])
                # drop the leading "WHEN" from the piece body, as the
                # old regex split did
                start = i + 4
                i = m.end()
                continue
        i += 1
    pieces.append(text[start:])
    return pieces


def _ref_split_top_level(text: str) -> list[str]:
    parts, depth, buf, quote = [], 0, [], None
    for ch in text:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in ("'", '"'):
            quote = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    if "".join(buf).strip():
        parts.append("".join(buf).strip())
    return parts


def _ref_split_where(rest: str) -> tuple[str, str | None]:
    depth, quote, i, n = 0, None, 0, len(rest)
    positions = []
    while i < n:
        ch = rest[i]
        if quote:
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in ("'", '"'):
            quote = ch
            i += 1
            continue
        if ch == "(":
            depth += 1
            i += 1
            continue
        if ch == ")":
            depth -= 1
            i += 1
            continue
        if (
            depth == 0
            and (i == 0 or not (rest[i - 1].isalnum() or rest[i - 1] == "_"))
            and re.match(r"WHERE\b", rest[i:], re.IGNORECASE)
        ):
            positions.append(i)
        i += 1
    if not positions:
        return rest.strip(), None
    p = positions[-1]
    return rest[:p].strip(), rest[p + len("WHERE"):].strip()


def _ref_top_level_positions(text: str) -> list[tuple[str, int]]:
    out: list[tuple[str, int]] = []
    depth, quote, i, n = 0, None, 0, len(text)
    while i < n:
        ch = text[i]
        if quote:
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in ("'", '"'):
            quote = ch
            i += 1
            continue
        if ch == "(":
            depth += 1
            i += 1
            continue
        if ch == ")":
            depth -= 1
            i += 1
            continue
        if depth == 0 and ch.isalpha() and (
            i == 0 or not (text[i - 1].isalnum() or text[i - 1] == "_")
        ):
            m = re.match(r"[A-Za-z_]+", text[i:])
            word = m.group(0).upper()
            if word in _KEYWORD:
                out.append((word, i))
            i += len(m.group(0))
            continue
        i += 1
    return out


_TOKENS = [
    "'", '"', "(", ")", ",", " ", "\n", "=", "x", "_", "1", "a,b",
    "WHERE", "where", "WHEN", "when ", " MATCHED", "NOT ", "matched",
    "SELECT", "from", "QUALIFY", "order", "LIMIT",
]
_sql_like = st.lists(st.sampled_from(_TOKENS), max_size=40).map("".join)


@settings(max_examples=400, deadline=None)
@given(_sql_like)
def test_splitters_match_the_replaced_state_machines(text):
    assert _split_top_level(text) == _ref_split_top_level(text)
    assert _split_where(text) == _ref_split_where(text)
    assert _split_when_clauses(text) == _ref_split_when_clauses(text)


@settings(max_examples=400, deadline=None)
@given(_sql_like)
def test_keyword_positions_match_the_replaced_scanner(text):
    # the one intended difference: ``from1`` is a word, not FROM
    assume(not re.search(r"(?i)(?<!\w)(QUALIFY|FROM|SELECT|ORDER|LIMIT)\d", text))
    new = [(w, i) for w, i in _top_level_words(text) if w in _KEYWORD]
    assert new == _ref_top_level_positions(text)


# --- one case per front door for each lexical rule ----------------------


# ``é``: the replaced scanner raised AttributeError on a word that
# starts with a non-ASCII letter
@pytest.mark.parametrize("col", ["from1", "é"])
def test_qualify_reads_whole_words(col):
    out = rewrite_qualify(
        f"SELECT {col}, row_number() OVER (ORDER BY x) AS rn FROM t "
        "QUALIFY rn <= 2"
    )
    assert out.startswith(f"SELECT * FROM (SELECT {col}, row_number()")
    assert "AS __qualify FROM t)" in out


@pytest.mark.parametrize(
    "parse, statement",
    [
        (parse_update, r"UPDATE t SET a = 'x\'y, b' WHERE k = 1"),
        (
            lambda s: parse_merge(s).matched[0],
            r"MERGE INTO t USING s ON t.k = s.k "
            r"WHEN MATCHED THEN UPDATE SET a = 'x\'y, b'",
        ),
    ],
    ids=["update", "merge"],
)
def test_escaped_quote_stays_inside_one_set_value(parse, statement):
    assert parse(statement).assignments == {"a": r"'x\'y, b'"}


def test_backtick_identifier_is_not_split():
    assert _split_top_level("`c,d`, e") == ["`c,d`", "e"]


class _View:
    def __init__(self, views, version):
        self.views, self.version = views, version

    def createOrReplaceTempView(self, name):
        self.views[name] = self.version


class _Table:
    def __init__(self, views):
        self.views = views

    def read(self, version=None):
        return _View(self.views, version)


class _Session:
    def sql(self, text):
        return text


def test_time_travel_skips_an_escaped_literal():
    views: dict = {}
    statement = r"SELECT id, 'it\'s t VERSION AS OF 1' AS s FROM t"
    assert sql_time_travel(_Session(), statement, {"t": _Table(views)}) == statement
    assert views == {"t": None}
