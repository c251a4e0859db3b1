"""Sink operators (SURVEY §2.2 K1–K3).

- ``export_payload`` — K1: the sheet-overwrite shape ([header]+rows
  after export normalization). Driver-bound by contract; capped.
- ``write_parquet`` — the scale sink.
- export normalization (K3) lives in functions.dates
  (``format_dates_for_export``) + functions.cleaning (``nan_to_null_all``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from fbs_data_pipelines_spark.functions.cleaning import nan_to_null_all
from fbs_data_pipelines_spark.functions.dates import format_dates_for_export

#: hard cap for driver-bound row payloads (the reference's 10 MB
#: anxiety, made explicit): refuse to collect bigger edges.
MAX_PAYLOAD_ROWS = 200_000


def normalize_for_export(df: DataFrame) -> DataFrame:
    """K3 (transformation_layer.py:101-119): dates → ISO strings,
    NaN → null. JSON-safe payload, stable across engines."""
    return format_dates_for_export(nan_to_null_all(df))


def export_payload(df: DataFrame, max_rows: int = MAX_PAYLOAD_ROWS) -> list[list]:
    """K1: normalized [header]+rows payload for API sinks
    (gsheets_handler.py:119-171). Guarded collect — a single job: the
    limit(cap+1) collect both enforces the cap and IS the payload
    (a separate count() would scan the input twice)."""
    normalized = normalize_for_export(df)
    rows = normalized.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"export_payload is a driver-bound edge: input exceeds cap "
            f"{max_rows}; use write_parquet for data-scale sinks"
        )
    return [list(normalized.columns)] + [list(r) for r in rows]


def write_parquet(df: DataFrame, path: str) -> None:
    """Scale sink: overwrite ``path`` with parquet."""
    df.write.mode("overwrite").parquet(path)
