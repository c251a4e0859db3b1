"""Date/time column expressions (SURVEY §2.8).

The reference parses Colombian-locale dates: ``DD/MM/YYYY`` with
separator variants ``-`` ``.`` ``/``, optional time-of-day, stray
spaces; failures → null (D1/D2,
/root/reference/src/transformation_layer.py:56-64,127).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fbs_data_pipelines_spark.functions.cleaning import rewrite_by_type

_EPOCH_UTC = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def ts_lit(value: _dt.datetime) -> Column:
    """Timestamp literal with HOST-timezone-independent semantics.

    ``F.lit(naive_datetime)`` converts through ``time.mktime`` — the
    PYTHON PROCESS local timezone — so identical code yields different
    instants on differently-zoned hosts even when
    ``spark.sql.session.timeZone`` is pinned (the engine pins UTC,
    session.py). Here instead:

    - naive ``datetime`` → parsed from its ISO string in the SESSION
      timezone (the wall clock the caller wrote is the wall clock the
      session renders, on every host);
    - tz-aware ``datetime`` → the exact instant via
      ``timestamp_micros`` (integer epoch arithmetic, no float).
    """
    if value.tzinfo is not None:
        us = (value - _EPOCH_UTC) // _dt.timedelta(microseconds=1)
        return F.timestamp_micros(F.lit(us))
    return F.to_timestamp(
        F.lit(value.isoformat(sep=" ", timespec="microseconds"))
    )


def parse_flexible_date(c: Column | str) -> Column:
    """Lenient ``DD/MM/YYYY``-ish string → date; null on failure (D1).

    Normalization pipeline (mirrors transformation_layer.py:56-64):
    trim → drop time-of-day (split on space, keep part 0) → unify
    separators ``-``/``.`` → ``/`` → ``try_to_timestamp`` with
    ``dd/MM/yyyy`` → date.
    """
    s = F.trim(_col(c))
    s = F.get(F.split(s, " "), 0)
    s = F.regexp_replace(s, r"[-.]", "/")
    return F.try_to_timestamp(s, F.lit("dd/MM/yyyy")).cast("date")


def parse_timestamp(c: Column | str, fmt: str = "dd/MM/yyyy HH:mm") -> Column:
    """Lenient string → timestamp with explicit format (D2)."""
    return F.try_to_timestamp(F.trim(_col(c)), F.lit(fmt))


def datediff_days(end: Column | str, start: Column | str) -> Column:
    """Whole-day difference as long (D3: ``(d2-d1).dt.total_days()``)."""
    return F.datediff(_col(end), _col(start)).cast("long")


def conditional_datediff(
    when_null: Column | str, end: Column | str, start: Column | str
) -> Column:
    """Day-diff only where ``when_null`` is null, else null (D5:
    tiempo_de_espera, transformation_layer.py:85-92)."""
    return F.when(
        _col(when_null).isNull(), F.datediff(_col(end), _col(start))
    ).cast("long")


def format_dates_for_export(df: DataFrame) -> DataFrame:
    """Export normalization (K3/D6, transformation_layer.py:101-119):
    date cols → ``yyyy-MM-dd`` strings, timestamp cols →
    ``yyyy-MM-dd HH:mm:ss`` strings (JSON-safe payloads)."""
    return rewrite_by_type(
        df,
        {
            "date": "date_format({c}, 'yyyy-MM-dd')",
            "timestamp": "date_format({c}, 'yyyy-MM-dd HH:mm:ss')",
        },
    )
