"""Catalog / snapshot resolution (SURVEY §2.1 S5–S8).

The reference resolves datasets by walking Drive folder metadata and
picking the newest ``{date}_{name}.csv`` (gdrive_handler.py:169-217;
extraction_layer.py:35-36). Spark-first: a *listing DataFrame* over
file metadata + declarative latest-snapshot selection, plus the real
``spark.catalog`` for registered tables.
"""

from __future__ import annotations

import datetime as _dt
import os
from collections.abc import Iterable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from fbs_data_pipelines_spark.operators.joins import latest_snapshot

LISTING_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("layer", T.StringType()),
        T.StructField("entity", T.StringType()),
        T.StructField("created_time", T.TimestampType()),
        T.StructField("size_bytes", T.LongType()),
    ]
)


def entity_from_filename(name: str) -> str:
    """``{date}_{entity}.csv`` → entity (etl.py:34,70-71); a name
    without ``_`` is its own entity."""
    return name.split("_")[1].split(".")[0] if "_" in name else name


class ListingRow(NamedTuple):
    """One file's metadata, in LISTING_SCHEMA order; ``created_time``
    is naive UTC."""

    path: str
    name: str
    layer: str
    entity: str
    created_time: _dt.datetime | None
    size_bytes: int


def layer_rows(root: str, layer: str) -> list[ListingRow]:
    """Metadata of the files in ``root/layer`` — the Drive-walk
    analogue, as plain driver-side rows (os.scandir reads metadata
    only, like the API listing)."""
    rows = []
    layer_dir = os.path.join(root, layer)
    if os.path.isdir(layer_dir):
        for e in os.scandir(layer_dir):
            if not e.is_file():
                continue
            st = e.stat()
            rows.append(
                ListingRow(
                    e.path,
                    e.name,
                    layer,
                    entity_from_filename(e.name),
                    _dt.datetime.fromtimestamp(st.st_mtime, _dt.timezone.utc).replace(
                        tzinfo=None
                    ),
                    st.st_size,
                )
            )
    return rows


def to_listing_df(spark: SparkSession, rows: Iterable[ListingRow]) -> DataFrame:
    """Listing rows → a LISTING_SCHEMA DataFrame. ``created_time`` goes
    in as an aware UTC datetime: PySpark converts a NAIVE one through
    the Python process's local zone, so the stored instant would
    depend on the host's TZ."""
    return spark.createDataFrame(
        [
            r._replace(created_time=r.created_time.replace(tzinfo=_dt.timezone.utc))
            if r.created_time is not None
            else r
            for r in rows
        ],
        schema=LISTING_SCHEMA,
    )


def list_layer(spark: SparkSession, root: str, layer: str) -> DataFrame:
    """Listing DF for ``root/layer/*``; downstream ops treat it
    declaratively (filter = the reference's ``q=`` pushdown)."""
    return to_listing_df(spark, layer_rows(root, layer))


def _recency(r: ListingRow) -> tuple:
    # a null created_time sorts below every time; equal times go to
    # the larger name
    t = r.created_time
    return (t is not None, t or _dt.datetime.min, r.name or "")


def newest_rows(rows: Iterable[ListingRow]) -> list[ListingRow]:
    """Newest row per (layer, entity), ordered by (layer, entity) — S8
    on the driver, with no Spark job. The newest ``created_time`` wins,
    a null ``created_time`` loses, and equal times go to the larger
    ``name``: the order :func:`latest_files` uses."""
    best: dict[tuple[str, str], ListingRow] = {}
    for r in rows:
        key = (r.layer, r.entity)
        if key not in best or _recency(r) > _recency(best[key]):
            best[key] = r
    return [best[k] for k in sorted(best)]


def latest_files(listing: DataFrame) -> DataFrame:
    """Newest file per (layer, entity) — S8 as a window op, with the
    tie rule of :func:`newest_rows`."""
    return latest_snapshot(
        listing, ["layer", "entity"], "created_time", tiebreak=["name"]
    )


def read_table(spark: SparkSession, name: str) -> DataFrame:
    """S5: SELECT * FROM t (db_manager.py:55-68)."""
    return spark.table(name)


def save_bucketed(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Materialize a table bucketed (and optionally sorted) on its
    join/agg key — the co-location contract that lets repeated joins
    and aggregations on ``bucket_cols`` run with ZERO shuffle: both
    sides of a bucketed equi-join read matching buckets directly.

    At 100 TB this is the difference between shuffling the fact table
    on every join vs once at write time. Requires saveAsTable (bucket
    metadata lives in the catalog).

    ``path`` places the files there instead of the warehouse, making
    an EXTERNAL table: ``DROP TABLE`` removes only the catalog entry
    and leaves the files on disk for the caller to delete.
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(name)
