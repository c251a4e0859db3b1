"""Driver-side cost of the EP1 pipeline (``pipeline.ETLPipeline``):
extract picks the newest snapshot without a Spark job, load writes the
tables concurrently under the caller's job group, and building the
four transforms stays within a py4j command budget."""

from __future__ import annotations

import datetime as dt
import os
import uuid
from contextlib import contextmanager

import pytest
from py4j.clientserver import ClientServerConnection

from fbs_data_pipelines_spark.pipeline import TRANSFORM_REGISTRY, ETLPipeline
from fbs_data_pipelines_spark.plans import TRANSFORMS
from fbs_data_pipelines_spark.sources.csv import dedup_headers

#: the reference's creditos header (FIXTURES.md §1): 47 cells,
#: FormaPago and Periodicidad each duplicated
CREDITOS_HEADER = [
    "Crédito", "Dias Mora Actual", "Plazo", "CuotasPagas", "NúmeroVez",
    "EstadoCrédito", "Monto", "Saldo", "Monto Aprobado", "ValorCuota",
    "TasaInterés", "FechaSolicitud", "FechaIngreso", "FechaGiro",
    "FechaInicio", "FechaLegalización", "Fecha Acta Aprobación",
    "VencimientoCuota", "CódigoLínea", "Línea", "Categoría",
    "CategoríaDeudor", "Nombre Deudor", "DirecciónResidencia",
    "DirecciónCorrespondencia", "E Mail", "IdentificaciónDeudor",
    "Municipio Residencia", "Departamento Residencia", "ActaAprobación",
    "Destino", "Estado", "FormaPago", "FormaPago", "Indice Color",
    "LíneaCrédito", "NombreCategoría", "Observaciones", "Pagaduría",
    "Periodicidad", "Periodicidad", "Tipo70 / 30", "Oficina", "Asesor",
    "Garantía", "Sector", "Estrato",
]
RADICADOS_HEADER = [
    "Radicado", "Fecha Radicacion", "Procedencia", "Detalle", "Naturaleza",
    "Medio", "Expediente", "Opciones", "Destino", "Rpta", "Asunto",
    "Anexos", "Usuario", "Dependencia",
]


@contextmanager
def job_group(spark):
    """Run the block under a fresh job group; yields a function that
    returns the group's job ids once the listener bus has drained."""
    sc = spark.sparkContext
    group = f"test-etl-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "test_etl_pipeline", False)

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _ungrouped_jobs(spark) -> set[int]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def test_registry_is_plans_transforms():
    assert TRANSFORM_REGISTRY is TRANSFORMS


def test_extract_picks_newest_without_spark_jobs(spark, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    for name, body, mtime in [
        ("20240101_creditos.csv", "junk\nCrédito;Monto\n1;10\n", 1_700_000_000),
        ("20240201_creditos.csv", "junk\nCrédito;Monto\n2;20\n3;30\n", 1_700_000_100),
        ("20240201_radicados.csv", "Radicado;Rpta\n100;1\n", 1_700_000_050),
    ]:
        (raw / name).write_bytes(body.encode("latin-1"))
        os.utime(raw / name, (mtime, mtime))
    pipe = ETLPipeline(spark, str(tmp_path), run_date=dt.date(2024, 3, 6))
    with job_group(spark) as jobs:
        out = pipe.extract("raw")
        assert jobs() == []
    assert list(out) == ["creditos", "radicados"]
    assert sorted(r["Crédito"] for r in out["creditos"].collect()) == ["2", "3"]


def _pipeline(spark, tables) -> ETLPipeline:
    pipe = ETLPipeline(spark, root="/nonexistent")
    pipe.output.update(tables)
    return pipe


def test_load_writes_under_the_callers_job_group(spark, tmp_path):
    pipe = _pipeline(spark, {
        ("raw", "a"): spark.range(3),
        ("raw", "b"): spark.range(5),
        ("modeled", "a"): spark.range(7),
    })
    before = _ungrouped_jobs(spark)
    with job_group(spark) as jobs:
        pipe.load(str(tmp_path))
        grouped = jobs()
    assert len(grouped) >= 3  # at least one write job per table
    assert _ungrouped_jobs(spark) == before  # no write job escaped the group
    for key, n in [("raw_a", 3), ("raw_b", 5), ("modeled_a", 7)]:
        assert spark.read.parquet(str(tmp_path / key)).count() == n


def test_load_raises_the_failure_after_every_write(spark, tmp_path):
    failing = spark.range(1).selectExpr("assert_true(id < 0, 'load-probe failure') AS x")
    pipe = _pipeline(spark, {
        ("raw", "first"): spark.range(2),
        ("raw", "broken"): failing,
        ("raw", "last"): spark.range(4),
    })
    with pytest.raises(Exception, match="load-probe failure"):
        pipe.load(str(tmp_path))
    for key in ("raw_first", "raw_last"):
        assert os.path.exists(tmp_path / key / "_SUCCESS"), key
    assert not os.path.exists(tmp_path / "raw_broken" / "_SUCCESS")


@pytest.mark.parametrize("as_payload", [False, True])
def test_load_keeps_output_order(spark, tmp_path, as_payload):
    keys = [("raw", "z"), ("modeled", "a"), ("raw", "m")]
    pipe = _pipeline(spark, {k: spark.range(i + 1) for i, k in enumerate(keys)})
    results = pipe.load(str(tmp_path), as_payload=as_payload)
    assert list(results) == keys
    if as_payload:
        assert [len(results[k]) - 1 for k in keys] == [1, 2, 3]  # header + rows
    else:
        assert results[("raw", "z")] == f"{tmp_path}/raw_z"


def test_transform_build_py4j_budget(spark, monkeypatch):
    """Building the four transforms over the reference's headers costs
    at most 1,000 py4j commands (1,826 when each whole-frame column
    program was built from per-column ``F.*`` calls). Deletes of
    garbage-collected proxies (``m\\nd\\n``) are not counted: they
    arrive whenever Python's GC runs."""

    def frame(header):
        cols = ", ".join(f"`{c}` string" for c in dedup_headers(header))
        return spark.createDataFrame([], cols)

    cred, rad = frame(CREDITOS_HEADER), frame(RADICADOS_HEADER)
    assert len(cred.columns) == 47
    sent = []
    send = ClientServerConnection.send_command

    def counted(self, command):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    TRANSFORMS[("raw", "creditos")](cred, run_date=dt.date(2024, 3, 6))
    TRANSFORMS[("modeled", "creditos")](cred)
    TRANSFORMS[("raw", "radicados")](rad)
    TRANSFORMS[("modeled", "radicados")](rad)
    monkeypatch.undo()
    assert len(sent) <= 1000, len(sent)
