"""Drive-edge Python DataSource: ``spark.read.format("fbs_drive")``.

The reference's EP1 extraction walks a Drive folder, picks the newest
CSV per entity, downloads it, and parses the dialect
(/root/reference/src/gdrive_handler.py:169-260 +
extraction_layer.py:35-36). ``sources/gdrive.py`` reproduces those
semantics but enters Spark through a driver-side ``createDataFrame``
(every byte funnels through one process). This module makes the edge
a first-class Spark 4 Python DataSource, the same pattern as
``rows_datasource.py``:

- **planning is pushdown**: the ``name``/``mimeType`` filters and the
  folder walk run as Drive ``q``-filters inside ``files().list`` at
  plan time (never list-everything-then-filter), and ``latest_only``
  prunes to the newest file per entity BEFORE any download — the
  S7/S8 selection semantics as scan pruning;
- **reads are distributed**: one input partition per selected file;
  each EXECUTOR downloads and parses its own file in parallel —
  N snapshot files cost one wave of N parallel tasks, not N
  sequential driver downloads;
- **transports are rebuildable**: executors can't share the driver's
  transport object, so the ``transport`` option names a
  ``module:callable`` factory (kwargs in ``transport_args`` JSON)
  that BOTH sides resolve — ``gdrive.local_dir_transport`` for
  mirrored-directory reads and tests, a ``googleapiclient`` wrapper
  (OAuth included) in a networked deployment.

Options:
    transport       "module:callable" factory spec (required)
    transport_args  JSON kwargs for the factory (default {})
    drive           shared-drive name to resolve as the walk root
    folder          "/"-joined folder-name walk (e.g. "Data/Raw")
    name            exact file-name filter (pushed into files().list)
    entity          keep files whose name maps to this entity
    latest_only     "true": newest createdTime per entity only
    mode            "csv" (default: file contents) | "listing"
                    (LISTING_SCHEMA metadata rows, no downloads)
    sep             CSV separator (default ";")
    encoding        CSV encoding (default "ISO-8859-1")
    skip_rows       junk lines before the header (default 0)

CSV semantics match the S1 dialected reader: duplicate headers get
the ``_duplicated_N`` rename (so the P1 drop policy applies), ragged
rows are padded/truncated to the header width, empty strings read as
null, quoted multi-line fields supported (stdlib csv). All columns
string — types are imposed downstream by the schema registry, as
everywhere in this engine.
"""

from __future__ import annotations

import csv
import io
import json

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)
from pyspark.sql.types import StringType, StructField, StructType

from fbs_data_pipelines_spark.sources.catalog import (
    LISTING_SCHEMA,
    entity_from_filename,
    newest_rows,
)
from fbs_data_pipelines_spark.sources.csv import dedup_headers
from fbs_data_pipelines_spark.sources.gdrive import (
    FOLDER_MIME,
    DriveClient,
    listing_row,
)


def _build_transport(options: dict):
    spec = options.get("transport")
    if not spec or ":" not in spec:
        raise ValueError(
            "fbs_drive needs option 'transport' as 'module:callable' "
            "(e.g. fbs_data_pipelines_spark.sources.gdrive:"
            "local_dir_transport)"
        )
    mod_name, _, attr = spec.partition(":")
    import importlib

    factory = getattr(importlib.import_module(mod_name), attr)
    kwargs = json.loads(options.get("transport_args", "{}"))
    return factory(**kwargs)


def _select_files(options: dict) -> list[dict]:
    """Plan-time selection with pushdown: drive resolve → folder walk
    → files().list with name/mimeType q-filters → optional entity /
    newest-per-entity pruning. Returns Drive file resources."""
    transport = _build_transport(options)
    client = DriveClient(transport)
    root = None
    drive = options.get("drive")
    if drive:
        root = client.resolve_drive(drive)
        if root is None:
            raise FileNotFoundError(f"no shared drive named {drive!r}")
    folder = options.get("folder")
    folder_id = root
    if folder:
        folder_id = client.resolve_folder(folder.split("/"), root)
        if folder_id is None:
            raise FileNotFoundError(f"folder walk {folder!r} found nothing")
    files = [
        f
        for f in transport.list_files(
            parent_id=folder_id, name=options.get("name") or None
        )
        if f.get("mimeType") != FOLDER_MIME
    ]
    entity = options.get("entity")
    if entity:
        files = [
            f
            for f in files
            if entity_from_filename(f.get("name", "")) == entity
        ]
    if str(options.get("latest_only", "")).lower() == "true":
        newest = {r.path for r in newest_rows(listing_row(f, "") for f in files)}
        files = [f for f in files if f["id"] in newest]
    return sorted(files, key=lambda f: f.get("name", ""))


def _parse_csv_rows(
    payload: bytes, options: dict, width: int
) -> "list[tuple]":
    text = payload.decode(options.get("encoding", "ISO-8859-1"))
    sep = options.get("sep", ";")
    skip = int(options.get("skip_rows", "0"))
    reader = csv.reader(io.StringIO(text), delimiter=sep)
    rows = list(reader)[skip + 1 :]  # junk lines + header
    out = []
    for row in rows:
        padded = [
            None if v == "" else str(v) for v in row[:width]
        ] + [None] * (width - len(row))
        out.append(tuple(padded))
    return out


class _FilePartition(InputPartition):
    def __init__(self, file_id: str, name: str, layer: str):
        self.file_id = file_id
        self.name = name
        self.layer = layer


class DriveReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        self.options = options
        self.mode = options.get("mode", "csv")

    def partitions(self):
        files = _select_files(self.options)
        layer = self.options.get("folder", "") or self.options.get(
            "drive", ""
        )
        if self.mode == "listing":
            # metadata rows are tiny; one partition carries the whole
            # listing (the DOWNLOADS are what need fan-out)
            return [_FilePartition("", "", layer)]
        return [
            _FilePartition(f["id"], f.get("name", ""), layer)
            for f in files
        ] or [_FilePartition("", "", layer)]

    def read(self, partition: _FilePartition):
        transport = _build_transport(self.options)
        if self.mode == "listing":
            for f in _select_files(self.options):
                yield tuple(listing_row(f, partition.layer))
            return
        if not partition.file_id:
            return
        payload = transport.download(partition.file_id)
        width = len(self.schema_.fields)
        yield from _parse_csv_rows(payload, self.options, width)


class DriveDataSource(DataSource):
    """format name: ``fbs_drive``."""

    @classmethod
    def name(cls) -> str:
        return "fbs_drive"

    def schema(self):
        if self.options.get("mode", "csv") == "listing":
            return LISTING_SCHEMA
        files = _select_files(self.options)
        if not files:
            raise FileNotFoundError(
                "fbs_drive: selection matched no files (folder/name/"
                "entity filters); cannot infer a header"
            )
        transport = _build_transport(self.options)
        payload = transport.download(files[0]["id"])
        text = payload.decode(self.options.get("encoding", "ISO-8859-1"))
        sep = self.options.get("sep", ";")
        skip = int(self.options.get("skip_rows", "0"))
        rows = list(csv.reader(io.StringIO(text), delimiter=sep))
        header = [c.strip() for c in rows[skip]] if len(rows) > skip else []
        return StructType(
            [
                StructField(h, StringType())
                for h in dedup_headers(header)
            ]
        )

    def reader(self, schema: StructType) -> DriveReader:
        return DriveReader(schema, self.options)


def register(spark) -> None:
    """``register(spark)`` then
    ``spark.read.format('fbs_drive').options(...).load()``."""
    spark.dataSource.register(DriveDataSource)
