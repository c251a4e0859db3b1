"""Google Drive / Sheets connector edge (EP1/EP2 I/O parity).

The reference talks to the Drive v3 / Sheets v4 REST APIs directly
from its extract/load layers (gdrive_handler.py:220-260 CSV download,
gsheets_handler.py:119-171 clear+update sheet write, folder walk
:169-217). This engine keeps that edge OUT of the data plane:

- a minimal **transport** interface (list/download/values get-clear-
  update) that mirrors the public API surface one-to-one and is
  injectable — tests use an in-memory fake; production wraps
  ``googleapiclient`` behind the same five methods, OAuth included;
- ``DriveClient`` reproducing the reference's *selection semantics*:
  named-folder walk, listing-as-DataFrame, newest-``createdTime``
  snapshot pick (the S7/S8 ops, reused from the filesystem catalog);
- ``SheetsClient`` reproducing the row-payload protocol: ragged-row
  padding on read (S3), clear-then-``USER_ENTERED``-update on write
  (K1), both via the engine's existing row edges.

No Google libraries are imported here — the sandbox has no network,
and the engine-shaped boundary is the transport, not the SDK.
"""

from __future__ import annotations

import csv
import datetime as _dt
import io
import logging
import os
import tempfile
from abc import ABC, abstractmethod
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from fbs_data_pipelines_spark.sinks.writers import normalize_for_export
from fbs_data_pipelines_spark.sources.catalog import (
    ListingRow,
    entity_from_filename,
    latest_files,
    to_listing_df,
)
from fbs_data_pipelines_spark.sources.csv import read_dialected_csv
from fbs_data_pipelines_spark.sources.rows import (
    df_to_rows,
    pad_rows,
    ragged_row_rate,
    rows_to_df,
)

logger = logging.getLogger(__name__)

CSV_MIME = "text/csv"
FOLDER_MIME = "application/vnd.google-apps.folder"

#: the reference's 10 MB download anxiety (gdrive_handler.py:237-239)
#: made a hard contract: the Drive edge is for control-plane payloads.
MAX_DOWNLOAD_BYTES = 100 * 1024 * 1024


class DriveTransport(ABC):
    """What a Drive v3 wrapper must provide. Matches the public API
    shapes: file resources are dicts with at least
    ``id/name/mimeType/createdTime`` (``files().list`` fields param),
    downloads return raw bytes (``files().get_media``)."""

    @abstractmethod
    def list_drives(self) -> list[dict]:
        """drives().list — [{'id': ..., 'name': ...}, ...]."""

    @abstractmethod
    def list_files(
        self,
        parent_id: str | None = None,
        name: str | None = None,
        mime_type: str | None = None,
    ) -> list[dict]:
        """files().list with the reference's q-filters ('X in parents',
        'name =', 'mimeType =', trashed excluded)."""

    @abstractmethod
    def download(self, file_id: str) -> bytes:
        """files().get_media — full content bytes."""


class LocalDirTransport(DriveTransport):
    """Drive-v3-shaped transport over a LOCAL directory tree: folders
    are folders, files are files, ids are root-relative paths,
    ``createdTime`` is the file mtime as RFC3339. Two jobs: (a) the
    deterministic test vehicle for everything Drive-shaped — state is
    plain files, so SPARK EXECUTORS can rebuild the transport from a
    path string (the fake-object transports live only in the driver
    process); (b) a real adapter for the common migration pattern
    where a Drive folder is rsync'd/rclone'd to a mount and the
    pipeline reads the mirror."""

    def __init__(self, root: str):
        self.root = os.path.abspath(root)

    def _abs(self, rel: str | None) -> str:
        return os.path.join(self.root, rel) if rel else self.root

    def _resource(self, rel: str) -> dict:
        full = self._abs(rel)
        is_dir = os.path.isdir(full)
        st = os.stat(full)
        created = (
            _dt.datetime.fromtimestamp(st.st_mtime, tz=_dt.timezone.utc)
            .strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
        )
        return {
            "id": rel,
            "name": os.path.basename(rel) or os.path.basename(self.root),
            "mimeType": FOLDER_MIME if is_dir else CSV_MIME,
            "createdTime": created,
            "size": 0 if is_dir else st.st_size,
        }

    def list_drives(self) -> list[dict]:
        return [{"id": "", "name": os.path.basename(self.root)}]

    def list_files(
        self,
        parent_id: str | None = None,
        name: str | None = None,
        mime_type: str | None = None,
    ) -> list[dict]:
        parent = self._abs(parent_id)
        if not os.path.isdir(parent):
            return []
        out = []
        for entry in sorted(os.listdir(parent)):
            rel = os.path.join(parent_id, entry) if parent_id else entry
            res = self._resource(rel)
            if name is not None and res["name"] != name:
                continue
            if mime_type is not None and res["mimeType"] != mime_type:
                continue
            out.append(res)
        return out

    def download(self, file_id: str) -> bytes:
        with open(self._abs(file_id), "rb") as fh:
            return fh.read()


def local_dir_transport(root: str) -> LocalDirTransport:
    """Factory for the DataSource ``transport`` option:
    ``module:callable`` spec
    ``fbs_data_pipelines_spark.sources.gdrive:local_dir_transport``
    with ``transport_args={"root": ...}``."""
    return LocalDirTransport(root)


class SheetsTransport(ABC):
    """What a Sheets v4 wrapper must provide (values get/clear/update)."""

    @abstractmethod
    def get_values(self, spreadsheet_id: str, range_name: str) -> list[list]:
        """spreadsheets().values().get — [header]+rows (ragged allowed)."""

    @abstractmethod
    def clear_values(self, spreadsheet_id: str, range_name: str) -> dict:
        """spreadsheets().values().clear — returns {'clearedRange': ...}."""

    @abstractmethod
    def update_values(
        self,
        spreadsheet_id: str,
        range_name: str,
        values: list[list],
        value_input_option: str = "USER_ENTERED",
    ) -> dict:
        """spreadsheets().values().update — returns {'updatedCells': N}."""


def _parse_rfc3339(ts: str | None) -> _dt.datetime | None:
    if not ts:
        return None
    # Drive timestamps are RFC3339 ('2024-01-05T10:00:00.000Z');
    # normalize to naive UTC like the filesystem catalog
    dt = _dt.datetime.fromisoformat(ts.replace("Z", "+00:00"))
    return dt.astimezone(_dt.timezone.utc).replace(tzinfo=None)


def listing_row(f: dict, layer: str) -> ListingRow:
    """A Drive file resource as a listing row (``path`` = file id)."""
    name = f.get("name", "")
    return ListingRow(
        f["id"],
        name,
        layer,
        entity_from_filename(name),
        _parse_rfc3339(f.get("createdTime")),
        int(f.get("size", 0)),
    )


class DriveClient:
    """Reference-shaped Drive access over an injected transport."""

    def __init__(self, transport: DriveTransport):
        self.transport = transport

    def resolve_drive(self, drive_name: str) -> str | None:
        """Shared-drive name → id (read_metadata's first step,
        gdrive_handler.py:169-178)."""
        for d in self.transport.list_drives():
            if d.get("name") == drive_name:
                return d["id"]
        return None

    def resolve_folder(
        self, names: Sequence[str], root_id: str | None = None
    ) -> str | None:
        """Walk named folders from ``root_id`` (read_metadata's parent
        walk, gdrive_handler.py:182-192): each name is resolved inside
        the previous hit; returns the final folder id or None."""
        current = root_id
        for name in names:
            hits = self.transport.list_files(
                parent_id=current, name=name, mime_type=FOLDER_MIME
            )
            if not hits:
                return None
            current = hits[0]["id"]
        return current

    def listing_rows(self, folder_id: str, layer: str) -> list[ListingRow]:
        """Folder contents as the engine's listing rows (the Drive-walk
        analogue of ``catalog.layer_rows``; ``path`` carries the file
        id)."""
        return [
            listing_row(f, layer)
            for f in self.transport.list_files(parent_id=folder_id)
            if f.get("mimeType") != FOLDER_MIME
        ]

    def listing_df(
        self, spark: SparkSession, folder_id: str, layer: str
    ) -> DataFrame:
        """:meth:`listing_rows` as a LISTING_SCHEMA DataFrame, for the
        same declarative S7/S8 operators as the filesystem catalog."""
        return to_listing_df(spark, self.listing_rows(folder_id, layer))

    def latest_per_entity(
        self, spark: SparkSession, folder_id: str, layer: str
    ) -> DataFrame:
        """Newest file per entity (extraction_layer.py:35-36 sort-desc
        take-first, as the S8 window operator)."""
        return latest_files(self.listing_df(spark, folder_id, layer))

    def download_csv(
        self,
        spark: SparkSession,
        file_id: str,
        skip_rows: int = 0,
        encoding: str = "ISO-8859-1",
    ) -> DataFrame:
        """CSV download → dialected permissive read
        (download_csv_into_polars, gdrive_handler.py:220-260: ';'
        separator, latin-1, junk leading row, ragged lines — all
        handled by the engine's S1 reader). The payload is spooled to
        a local temp file so the existing reader (and its dialect
        policy) is the single CSV implementation.

        This is the CONTROL-PLANE path (one file, driver-side, ≤ the
        download cap). For multi-file extraction use the distributed
        DataSource instead: ``spark.read.format("fbs_drive")``
        (``sources/drive_datasource.py``) plans one executor
        partition per selected file with listing pushdown."""
        payload = self.transport.download(file_id)
        if len(payload) > MAX_DOWNLOAD_BYTES:
            raise ValueError(
                f"drive download {file_id} exceeds {MAX_DOWNLOAD_BYTES} B; "
                "this edge is control-plane only — land big data in a "
                "bucket and read it distributed"
            )
        fd, tmp = tempfile.mkstemp(suffix=".csv")
        try:
            with os.fdopen(fd, "wb") as fh:
                fh.write(payload)
            df = read_dialected_csv(
                spark, tmp, skip_rows=skip_rows, encoding=encoding
            )
            # the reader is lazy; materialize the tiny edge before the
            # temp file disappears (API payloads are ≤10 MB by contract)
            out = spark.createDataFrame(df.collect(), schema=df.schema)
        finally:
            os.unlink(tmp)
        return out

    def read_csv_rows(self, file_id: str, encoding: str = "utf-8") -> list[list]:
        """Plain CSV → list-of-rows (read_csv_from_drive,
        gdrive_handler.py:262-275 — the Sheets-shaped payload)."""
        text = self.transport.download(file_id).decode(encoding)
        return list(csv.reader(io.StringIO(text)))


class SheetsClient:
    """Reference-shaped Sheets access over an injected transport."""

    def __init__(self, transport: SheetsTransport):
        self.transport = transport

    def read_sheet(
        self, spark: SparkSession, spreadsheet_id: str, range_name: str = "Hoja1"
    ) -> DataFrame:
        """values().get → header + padded rows → all-string DF
        (download_sheets_into_polars, gsheets_handler.py:81-116: the
        ragged-row analyzer + padding are the engine's S3 edge)."""
        values = self.transport.get_values(spreadsheet_id, range_name)
        if not values:
            raise ValueError(f"sheet {spreadsheet_id}!{range_name} is empty")
        header, data = values[0], values[1:]
        # pad unconditionally — O(n) and idempotent, so a ragged row
        # the 20-row sample misses can never reach the constructor
        # unpadded; ragged_row_rate stays a reported QA metric only
        # (mirroring the reference's separate sampling-vs-padding
        # roles, gsheets_handler.py:104-111)
        rate = ragged_row_rate(data, len(header))
        if rate < 1.0:
            logger.warning(
                "sheet %s!%s: sampled ragged-row match rate %.2f",
                spreadsheet_id, range_name, rate,
            )
        data = pad_rows(data, len(header))
        return rows_to_df(spark, header, data)

    def write_df(
        self,
        df: DataFrame,
        spreadsheet_id: str,
        sheet_name: str = "Sheet1",
        clear_existing: bool = True,
        chunk_rows: int = 10_000,
    ) -> dict:
        """Export-normalized [header]+rows payload → optional clear →
        USER_ENTERED update (write_dataframe_to_sheet,
        gsheets_handler.py:119-171). The collect is the contractual
        driver-bound K1 edge (capped upstream by export_payload for
        pipeline loads).

        Large payloads are CHUNKED: the Sheets API rejects oversized
        update bodies, so rows upload ``chunk_rows`` at a time into
        successive ranges (header rides with the first chunk). Returns
        the summed response (updatedCells across chunks)."""
        rows = df_to_rows(normalize_for_export(df))[1:]
        payload = [list(df.columns)] + rows
        if clear_existing:
            self.transport.clear_values(spreadsheet_id, sheet_name)
        if len(payload) <= chunk_rows:
            return self.transport.update_values(
                spreadsheet_id, sheet_name, payload,
                value_input_option="USER_ENTERED",
            )
        total = 0
        responses = []
        for start in range(0, len(payload), chunk_rows):
            chunk = payload[start : start + chunk_rows]
            # A1-notation row offset: chunk i starts at row start+1
            rng = f"{sheet_name}!A{start + 1}"
            resp = self.transport.update_values(
                spreadsheet_id, rng, chunk, value_input_option="USER_ENTERED"
            )
            responses.append(resp)
            total += int(resp.get("updatedCells", 0))
        return {"updatedCells": total, "chunks": len(responses)}
