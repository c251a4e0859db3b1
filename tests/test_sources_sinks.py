"""Direct tests for the source/sink layer (SURVEY §2.1–2.2):
dialected CSV, rows edge, catalog listing/latest, table staging, and
the guarded export payload."""

import datetime as dt
import os
import time

import pytest
from pyspark.sql import functions as F

from fbs_data_pipelines_spark.sinks.writers import export_payload, normalize_for_export
from fbs_data_pipelines_spark.sources.catalog import (
    entity_from_filename,
    latest_files,
    layer_rows,
    list_layer,
    newest_rows,
    read_table,
    to_listing_df,
)
from fbs_data_pipelines_spark.sources.csv import dedup_headers, read_dialected_csv
from fbs_data_pipelines_spark.sources.rows import (
    df_to_rows,
    pad_rows,
    ragged_row_rate,
    rows_to_df,
)


# --- CSV (S1/S2) --------------------------------------------------------


def test_dedup_headers_polars_naming():
    assert dedup_headers(["a", "b", "a", "a", "b"]) == [
        "a", "b", "a_duplicated_0", "a_duplicated_1", "b_duplicated_0",
    ]


def test_read_dialected_csv_dirty(spark, tmp_path):
    raw = (
        "JUNK ROW TO SKIP;;;\n"
        "Cr\xe9dito;Monto;FormaPago;FormaPago;Fecha\n"
        '1;"20648000,50";CAJA;BANCO;15/03/2020\n'
        '2;"1,99";X;Y;16-03-2020\n'
        "3;bad\n"  # ragged
    )
    p = tmp_path / "dirty.csv"
    p.write_bytes(raw.encode("latin-1"))
    df = read_dialected_csv(spark, str(p), skip_rows=1)
    assert df.columns[:4] == ["Crédito", "Monto", "FormaPago", "FormaPago_duplicated_0"]
    rows = {r["Crédito"]: r for r in df.collect()}
    assert rows["1"]["Monto"] == "20648000,50"
    assert rows["3"]["FormaPago"] is None  # ragged row padded, not dropped


# --- rows edge (S3/K1) --------------------------------------------------


def test_pad_and_ragged_rate():
    rows = [["a", "b"], ["c"], ["d", "e", "f"]]
    assert pad_rows(rows, 2) == [["a", "b"], ["c", None], ["d", "e"]]
    assert 0.0 <= ragged_row_rate(rows, 2) <= 1.0


def test_rows_roundtrip(spark):
    df = rows_to_df(spark, ["id", "v"], [["1", "x"], ["2"]])
    assert df.dtypes == [("id", "string"), ("v", "string")]
    payload = df_to_rows(df.orderBy("id"))
    assert payload == [["id", "v"], ["1", "x"], ["2", None]]


def test_export_payload_normalizes_and_caps(spark):
    df = spark.createDataFrame(
        [(1, dt.date(2020, 3, 15), dt.datetime(2020, 3, 15, 10, 30), float("nan"))],
        "id long, d date, ts timestamp, x double",
    )
    payload = export_payload(df)
    assert payload[0] == ["id", "d", "ts", "x"]
    assert payload[1] == [1, "2020-03-15", "2020-03-15 10:30:00", None]
    with pytest.raises(ValueError, match="driver-bound"):
        export_payload(spark.range(100), max_rows=10)


# --- catalog (S5-S8) ----------------------------------------------------


def test_listing_and_latest(spark, tmp_path):
    os.makedirs(tmp_path / "raw")
    for name, when in [
        ("20240101_creditos.csv", 1),
        ("20240201_creditos.csv", 2),
        ("20240115_radicados.csv", 3),
    ]:
        f = tmp_path / "raw" / name
        f.write_text("x")
        os.utime(f, (1700000000 + when, 1700000000 + when))
    listing = list_layer(spark, str(tmp_path), "raw")
    assert listing.count() == 3
    assert entity_from_filename("20240201_creditos.csv") == "creditos"
    latest = {r.entity: r.name for r in latest_files(listing).collect()}
    assert latest == {
        "creditos": "20240201_creditos.csv",
        "radicados": "20240115_radicados.csv",
    }

    # created_time is the mtime instant whatever the Python process's
    # zone: read back through the session (UTC) render, and as the
    # driver-side naive-UTC rows
    utc = {
        "20240101_creditos.csv": dt.datetime(2023, 11, 14, 22, 13, 21),
        "20240201_creditos.csv": dt.datetime(2023, 11, 14, 22, 13, 22),
        "20240115_radicados.csv": dt.datetime(2023, 11, 14, 22, 13, 23),
    }
    want = {n: t.strftime("%Y-%m-%d %H:%M:%S") for n, t in utc.items()}
    old_tz = os.environ.get("TZ")
    try:
        for tz in ("UTC", "Asia/Kathmandu", "America/Bogota"):
            os.environ["TZ"] = tz
            time.tzset()
            rendered = list_layer(spark, str(tmp_path), "raw").select(
                "name", F.date_format("created_time", "yyyy-MM-dd HH:mm:ss")
            )
            assert dict(map(tuple, rendered.collect())) == want, tz
            rows = layer_rows(str(tmp_path), "raw")
            assert {r.name: r.created_time for r in rows} == utc, tz
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_newest_snapshot_tie_rule_is_shared(spark, monkeypatch):
    """The driver-side pick, the DataFrame operator and the Drive
    DataSource's ``latest_only`` choose the same file per entity on
    equal times, a null time and a single file."""
    from fbs_data_pipelines_spark.sources import drive_datasource
    from fbs_data_pipelines_spark.sources.gdrive import CSV_MIME, listing_row

    files = [
        # equal created_time: the larger name wins, whatever comes first
        {"id": "t1", "name": "20240101_tie.csv", "createdTime": "2024-03-01T10:00:00.000Z"},
        {"id": "t2", "name": "20240102_tie.csv", "createdTime": "2024-03-01T10:00:00.000Z"},
        # a null created_time loses, whatever its name
        {"id": "n1", "name": "20240909_nul.csv"},
        {"id": "n2", "name": "20240101_nul.csv", "createdTime": "2024-01-01T00:00:00.000Z"},
        # a single file wins, even with a null created_time
        {"id": "s1", "name": "20240101_one.csv"},
    ]
    want = {"tie": "t2", "nul": "n2", "one": "s1"}
    rows = [listing_row(f, "raw") for f in files]
    assert {r.entity: r.path for r in newest_rows(rows)} == want
    window = latest_files(to_listing_df(spark, rows)).collect()
    assert {r.entity: r.path for r in window} == want

    class Transport:
        def list_files(self, parent_id=None, name=None, mime_type=None):
            return [dict(f, mimeType=CSV_MIME) for f in files]

    monkeypatch.setattr(drive_datasource, "_build_transport", lambda options: Transport())
    picked = drive_datasource._select_files({"latest_only": "true"})
    assert {entity_from_filename(f["name"]): f["id"] for f in picked} == want


def test_table_staging_roundtrip(spark):
    spark.sql("DROP TABLE IF EXISTS t_stage_test")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    df.write.mode("overwrite").saveAsTable("t_stage_test")
    back = read_table(spark, "t_stage_test")
    assert sorted((r.id, r.v) for r in back.collect()) == [(1, "a"), (2, "b")]
    spark.sql("DROP TABLE t_stage_test")


def test_orc_and_json_roundtrip(spark, tmp_path):
    """Format breadth: the engine's tables round-trip through ORC and
    JSONL sinks/sources losslessly (schema passed explicitly on the
    JSON read — schema inference is a scan tax at scale)."""
    df = spark.createDataFrame(
        [(1, "a", 1.5, True), (2, "b", -0.25, False), (3, None, None, None)],
        "id long, s string, v double, flag boolean",
    )
    orc_p, json_p = str(tmp_path / "t.orc"), str(tmp_path / "t.json")
    df.write.mode("overwrite").orc(orc_p)
    df.write.mode("overwrite").json(json_p)
    back_orc = spark.read.orc(orc_p)
    back_json = spark.read.schema(df.schema).json(json_p)
    assert back_orc.schema == df.schema
    assert sorted(map(tuple, back_orc.collect())) == sorted(
        map(tuple, df.collect())
    )
    assert sorted(map(tuple, back_json.collect())) == sorted(
        map(tuple, df.collect())
    )


def test_json_permissive_corrupt_records(spark, tmp_path):
    """JSONL ingestion keeps malformed lines inspectable instead of
    failing the job (PERMISSIVE + columnNameOfCorruptRecord) — the
    same contract as the dialected CSV reader."""
    p = tmp_path / "in.jsonl"
    p.write_text('{"id": 1, "v": "ok"}\n{broken\n{"id": 2, "v": "fine"}\n')
    df = spark.read.schema("id long, v string, _bad string").option(
        "mode", "PERMISSIVE"
    ).option("columnNameOfCorruptRecord", "_bad").json(str(p))
    rows = df.collect()
    good = [r for r in rows if r["_bad"] is None]
    bad = [r for r in rows if r["_bad"] is not None]
    assert {r["id"] for r in good} == {1, 2}
    assert len(bad) == 1 and bad[0]["_bad"].startswith("{broken")


def test_read_dialected_csv_positional_skip(spark, tmp_path):
    """Distributed positional skip: N>1 junk rows, multiple files,
    multi-split scan, and a data row whose first cell COLLIDES with a
    junk cell (the case the value-filter path cannot keep)."""
    from fbs_data_pipelines_spark.sources.csv import read_dialected_csv_positional

    d = tmp_path / "csvs"
    d.mkdir()
    junk = "REPORTE GENERADO;;;\nFECHA CORTE 2020;;;\n"
    header = "Cr\xe9dito;Monto;Estado\n"
    # file 1: includes a data row whose first cell equals a junk cell
    body1 = (
        "1;100,5;OK\n"
        "REPORTE GENERADO;200,0;COLLIDE\n"  # must survive positional skip
        "3;300,0;OK\n"
    )
    # file 2: large enough to split into multiple scan partitions
    body2 = "".join(f"{i};{i}0,0;BULK\n" for i in range(10, 2010))
    (d / "a.csv").write_bytes((junk + header + body1).encode("latin-1"))
    (d / "b.csv").write_bytes((junk + header + body2).encode("latin-1"))

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024))
    try:
        df = read_dialected_csv_positional(
            spark, str(d / "*.csv"), skip_rows=2
        )
        rows = df.collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    assert df.columns == ["Cr\xe9dito", "Monto", "Estado"]
    by_key = {r["Cr\xe9dito"]: r for r in rows}
    # the colliding data row survived (value-filter would drop it)
    assert by_key["REPORTE GENERADO"]["Estado"] == "COLLIDE"
    # no junk or header rows leaked through
    assert "FECHA CORTE 2020" not in by_key
    assert "Monto" not in {r["Monto"] for r in rows}
    # every data row from both files arrived exactly once
    assert len(rows) == 3 + 2000
    assert by_key["1"]["Monto"] == "100,5"
    assert by_key["1999"]["Estado"] == "BULK"
