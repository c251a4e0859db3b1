"""ETL orchestration (SURVEY §2.12 / EP1).

The reference's ``ETLDataPipeline`` (/root/reference/etl.py:22-119)
drives extract → transform → load with reflection-based dispatch
(``getattr(transformer, f"{layer}_{entity}_")``) and a class-level
output dict. Re-expressed Spark-first with an EXPLICIT registry
``{(layer, entity): transform_fn}`` (same late binding, no
reflection), catalog-driven extraction (latest snapshot per entity),
and the engine's sinks. The reference's error model is preserved:
a failing stage logs and the pipeline continues with the remaining
entities (etl.py:56-60,76-79) — but unlike the reference, a failed
extract never leaks a stale DataFrame into the next transform.

Extract picks the newest file per (layer, entity) on the driver from
the listing rows and runs no Spark job: the newest ``created_time``
wins, a null ``created_time`` loses, and equal times go to the larger
file name (``catalog.newest_rows``; ``latest_files`` is the same rule
as a DataFrame operator). Load writes the tables concurrently, one
thread per table, under the caller's job group; if writes fail, the
first failure in ``output`` order is raised once every write has
finished.
"""

from __future__ import annotations

import datetime as _dt
import logging
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from fbs_data_pipelines_spark.plans import TRANSFORMS
from fbs_data_pipelines_spark.sinks.writers import export_payload, write_parquet
# list_layer and latest_files are the DataFrame forms of extract's
# selection; they stay importable from this module
from fbs_data_pipelines_spark.sources.catalog import (
    latest_files,  # noqa: F401
    layer_rows,
    list_layer,  # noqa: F401
    newest_rows,
)
from fbs_data_pipelines_spark.sources.csv import read_dialected_csv

log = logging.getLogger(__name__)

#: {(layer, entity): transform} — the reference's getattr dispatch
#: (etl.py:73-74) made explicit and importable; the same object as
#: ``plans.TRANSFORMS``
TRANSFORM_REGISTRY = TRANSFORMS

#: per-entity CSV dialect quirks (creditos has 1 junk leading row,
#: gdrive_handler.py:247)
SKIP_ROWS = {"creditos": 1, "radicados": 0}


class ETLPipeline:
    """extract → transform → load over a layered directory store.

    ``root`` holds ``raw/`` (and optionally ``modeled/``) with files
    named ``{date}_{entity}.csv`` — the reference's Drive folder
    convention as a filesystem layout; the newest file per entity
    wins (S8).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        run_date: _dt.date | None = None,
        drive=None,
        drive_folders: dict[str, str] | None = None,
    ):
        """``drive`` (a ``sources.gdrive.DriveClient``) + ``drive_folders``
        ({layer: folder_id}) switch extraction to the reference's actual
        I/O edge (EP1: Drive folder walk → newest CSV per entity); with
        neither, ``root`` is a filesystem layout of the same shape."""
        self.spark = spark
        self.root = root
        self.run_date = run_date or _dt.date.today()  # run-constant (D4)
        self.drive = drive
        self.drive_folders = drive_folders or {}
        self.output: dict[tuple[str, str], DataFrame] = {}

    def extract(self, layer: str) -> dict[str, DataFrame]:
        """Latest snapshot per entity in ``layer`` → permissive DF.

        Same S7/S8 selection over either catalog: the listing rows come
        from the Drive API transport or os.scandir; `path` carries a
        file id or a filesystem path respectively."""
        if self.drive is not None and layer in self.drive_folders:
            rows = self.drive.listing_rows(self.drive_folders[layer], layer)
            reader = lambda r: self.drive.download_csv(  # noqa: E731
                self.spark, r.path, skip_rows=SKIP_ROWS.get(r.entity, 0)
            )
        else:
            rows = layer_rows(self.root, layer)
            reader = lambda r: read_dialected_csv(  # noqa: E731
                self.spark, r.path, skip_rows=SKIP_ROWS.get(r.entity, 0)
            )
        out: dict[str, DataFrame] = {}
        for r in newest_rows(rows):
            try:
                out[r.entity] = reader(r)
            except Exception:  # noqa: BLE001 — reference logs & continues
                log.exception("extract failed for %s/%s", layer, r.entity)
        return out

    def transform(
        self, layer: str, extracted: dict[str, DataFrame]
    ) -> dict[tuple[str, str], DataFrame]:
        for entity, df in extracted.items():
            fn = TRANSFORM_REGISTRY.get((layer, entity))
            if fn is None:
                log.warning("no transform registered for %s/%s", layer, entity)
                continue
            try:
                if (layer, entity) == ("raw", "creditos"):
                    self.output[(layer, entity)] = fn(df, run_date=self.run_date)
                else:
                    self.output[(layer, entity)] = fn(df)
            except Exception:  # noqa: BLE001
                log.exception("transform failed for %s/%s", layer, entity)
        return self.output

    def load(
        self, out_dir: str, as_payload: bool = False
    ) -> dict[tuple[str, str], object]:
        """Persist every transformed table: parquet (scale sink), or
        additionally return the row payload (the Sheets-edge shape).

        The tables are independent single-stage jobs, so each is
        written from its own thread and Spark schedules them side by
        side; every thread inherits the caller's job group, description
        and tags. Results keep ``output``'s order; the first failure in
        that order is raised after every write has finished."""

        def persist(df: DataFrame, path: str) -> object:
            write_parquet(df, path)
            return export_payload(df) if as_payload else path

        if not self.output:
            return {}
        with ThreadPoolExecutor(max_workers=len(self.output)) as pool:
            # one wrapper per table: each clones the caller's local
            # properties, so no two threads share (and mutate) one copy
            futures = {
                (layer, entity): pool.submit(
                    inheritable_thread_target(self.spark)(persist),
                    df,
                    f"{out_dir}/{layer}_{entity}",
                )
                for (layer, entity), df in self.output.items()
            }
        return {key: f.result() for key, f in futures.items()}

    def load_to_sheets(
        self, sheets, spreadsheet_ids: dict[tuple[str, str], str]
    ) -> dict[tuple[str, str], dict]:
        """EP2's publish edge: write each transformed table to its
        Google Sheet via clear+USER_ENTERED update (``sheets`` is a
        ``sources.gdrive.SheetsClient``). Only tables present in both
        ``output`` and ``spreadsheet_ids`` are written."""
        results: dict[tuple[str, str], dict] = {}
        for key, sheet_id in spreadsheet_ids.items():
            df = self.output.get(key)
            if df is None:
                log.warning("no transformed output for %s", key)
                continue
            results[key] = sheets.write_df(df, sheet_id)
        return results

    def run(self, layers: tuple[str, ...] = ("raw",), out_dir: str | None = None):
        """The EP1 batch run: per layer, extract + transform; then load."""
        for layer in layers:
            self.transform(layer, self.extract(layer))
        if out_dir is not None:
            return self.load(out_dir)
        return self.output


def audit_and_merge(
    pipeline: "ETLPipeline",
    entity: str,
    dictionary,
    log_root: str = "etl",
    run_id: str | None = None,
    run_ts: _dt.datetime | None = None,
):
    """EP2 — the modeled-layer round trip the reference wired but never
    connected (etl.py:10-14 imports vs __main__): raw vs modeled audit
    log + join-based snapshot merge, driven by the data dictionary
    (PK + Sujeto_auditoria flags). Requires both layers transformed in
    ``pipeline.output``. Returns (audit_log_df, merged_df)."""
    from fbs_data_pipelines_spark.operators.audit import (
        audit_from_registry,
        merge_snapshot,
    )

    raw = pipeline.output[("raw", entity)]
    modeled = pipeline.output[("modeled", entity)]
    log_df = audit_from_registry(
        raw, modeled, dictionary, log_root=log_root, run_id=run_id, run_ts=run_ts
    )
    merged = merge_snapshot(
        modeled,
        raw,
        id_col=dictionary.primary_key(),
        target_cols=dictionary.audit_cols(),
    )
    return log_df, merged
