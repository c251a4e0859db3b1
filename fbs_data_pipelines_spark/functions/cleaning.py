"""String / numeric / null-handling column expressions.

Re-expressions of the reference's cleansing ops (SURVEY §2.7, §2.9):
percent stripping (F1, /root/reference/src/transformation_layer.py:44-52),
decimal-comma parsing (N4, :94-99), empty-string→null (F8, :165-167),
NaN→null (N5, :118), split/unnest (F5, :131-146), value-map with default
(F7/J5, :149-153). All null-on-failure ("strict=False") semantics use
``try_cast`` so behavior is ANSI-independent.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def quote_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (dots, spaces and
    backticks in the name stay part of it)."""
    return "`" + name.replace("`", "``") + "`"


def rewrite_by_type(df: DataFrame, programs: Mapping[str, str]) -> DataFrame:
    """Rewrite every column whose type's ``simpleString`` is a key of
    ``programs`` with that SQL template (``{c}`` = the quoted column),
    keeping its name and position; other columns pass through.

    The whole projection is ONE ``selectExpr`` of SQL text: building
    it per column from ``F.*`` calls costs several py4j round trips
    per column (the ``functions.vectors.lit_array`` lesson), and the
    parser hands Catalyst the same expression tree."""
    exprs = []
    for f in df.schema.fields:
        c = quote_ident(f.name)
        program = programs.get(f.dataType.simpleString())
        exprs.append(f"{program.format(c=c)} AS {c}" if program else c)
    return df.selectExpr(*exprs)


def clean_percent(c: Column | str) -> Column:
    """``' 950847 %'`` → double 950847.0; junk → null.

    Strips a trailing ``%`` and any spaces before it, trims, and
    leniently casts to double (null on failure). Mirrors
    /root/reference/src/transformation_layer.py:44-52 (F1+F3+N1).
    """
    cleaned = F.trim(F.regexp_replace(_col(c), r"\s*%", ""))
    return cleaned.try_cast("double")


def decimal_comma_to_double(c: Column | str) -> Column:
    """``'20648000,50'`` → 20648000.5 (comma decimal separator, N4)."""
    return F.regexp_replace(_col(c), ",", ".").try_cast("double")


def empty_to_null(c: Column | str) -> Column:
    """``''`` → null, else passthrough (F8 per-column form)."""
    col = _col(c)
    return F.when(col == "", F.lit(None)).otherwise(col)


def empty_to_null_all(df: DataFrame) -> DataFrame:
    """Empty-string→null across every string column (F8,
    /root/reference/src/transformation_layer.py:165-167)."""
    return rewrite_by_type(
        df, {"string": "CASE WHEN {c} = '' THEN NULL ELSE {c} END"}
    )


def nan_to_null(c: Column | str) -> Column:
    """Float NaN → null (N5)."""
    col = _col(c)
    return F.when(F.isnan(col), F.lit(None)).otherwise(col)


def nan_to_null_all(df: DataFrame) -> DataFrame:
    """NaN→null for every float/double column (N5,
    /root/reference/src/transformation_layer.py:118)."""
    program = "CASE WHEN isnan({c}) THEN NULL ELSE {c} END"
    return rewrite_by_type(df, {"double": program, "float": program})


def round_half_up(c: Column | str, scale: int) -> Column:
    """Portable deterministic rounding: floor(x·10ⁿ + 0.5)/10ⁿ.

    Engine round() implementations disagree on doubles near half-way
    points (BigDecimal exact-expansion vs shortest-repr). This formula
    is pure IEEE double arithmetic — bit-identical in any engine — so
    cross-engine verification (the DuckDB oracle) can match exactly.
    """
    m = F.lit(float(10**scale))
    return F.floor(_col(c) * m + F.lit(0.5)) / m


def split_part(c: Column | str, sep: str, index: int) -> Column:
    """``split(c, sep)[index]`` with null-safe out-of-range (F4/F5)."""
    return F.get(F.split(_col(c), sep), index)


def split_unnest(
    c: Column | str,
    sep: str,
    field_names: Sequence[str],
    defaults: Mapping[str, Column] | None = None,
    condition: Column | None = None,
) -> list[Column]:
    """Split ``c`` into exactly ``len(field_names)`` aliased columns.

    Re-expression of split_exact→struct→rename→unnest (F5,
    /root/reference/src/transformation_layer.py:131-146). When
    ``condition`` is given, rows failing it take ``defaults`` (missing
    default → null); rows passing it take the split parts. Out-of-range
    parts are null (lenient, like split_exact with fewer matches).
    """
    col = _col(c)
    parts = F.split(col, sep)
    out: list[Column] = []
    for i, name in enumerate(field_names):
        part = F.get(parts, i)
        if condition is not None:
            default = (defaults or {}).get(name, F.lit(None))
            part = F.when(condition, part).otherwise(default)
        out.append(part.alias(name))
    return out


def map_values(
    c: Column | str,
    mapping: Mapping[str, str],
    default: Column | None = None,
) -> Column:
    """Dictionary lookup with default (F7/J5: ``replace_strict``,
    /root/reference/src/transformation_layer.py:149-153).

    Implemented as an inline ``create_map`` literal — constant-folded
    by Catalyst, no join, no shuffle. For large dictionaries prefer a
    broadcast join (`operators.joins.lookup_join`).
    """
    kv: list[Column] = []
    for k, v in mapping.items():
        kv.append(F.lit(k))
        kv.append(F.lit(v))
    looked_up = F.element_at(F.create_map(*kv), _col(c))
    if default is not None:
        looked_up = F.coalesce(looked_up, default)
    return looked_up


def drop_columns_matching(df: DataFrame, needle: str) -> DataFrame:
    """Drop every column whose name contains ``needle`` (P1,
    /root/reference/src/transformation_layer.py:38-40 — the
    duplicate-header drop policy)."""
    doomed = [c for c in df.columns if needle in c]
    return df.drop(*doomed) if doomed else df


def cast_all_to_string(df: DataFrame) -> DataFrame:
    """Every column → string (N9, pre-union alignment,
    /root/reference/src/log_handler.py:119-125)."""
    return df.select(*[F.col(c).cast("string").alias(c) for c in df.columns])


def fold_accents(c: Column | str) -> Column:
    """Latin-accent folding (á→a, ñ→n, ü→u, …) — the normalization the
    reference's domain needs before name matching/grouping (accented
    Spanish column values throughout creditos/radicados). Pure
    ``translate`` (codegen'd char map), both cases covered."""
    src = "áàâäãåéèêëíìîïóòôöõúùûüýÿñçÁÀÂÄÃÅÉÈÊËÍÌÎÏÓÒÔÖÕÚÙÛÜÝÑÇ"
    dst = "aaaaaaeeeeiiiiooooouuuuyyncAAAAAAEEEEIIIIOOOOOUUUUYNC"
    return F.translate(_col(c), src, dst)
