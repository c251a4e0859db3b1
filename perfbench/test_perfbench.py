"""Tests of the benchmark's own code: generator determinism, output
checkers that reject corrupted outputs, and metric names that match
BENCHMARK.json.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_same_seed_same_manifest(workload, tmp_path):
    a = gen.generate(workload, 3, "tiny", str(tmp_path / "a"))
    b = gen.generate(workload, 3, "tiny", str(tmp_path / "b"))
    c = gen.generate(workload, 4, "tiny", str(tmp_path / "c"))
    assert a == b
    assert gen.verify(str(tmp_path / "a")) == a
    digests = lambda m: {k: v["sha256"] for k, v in m["files"].items()}  # noqa: E731
    assert all(digests(c)[k] != d for k, d in digests(a).items())


def test_verify_rejects_changed_input(tmp_path):
    gen.generate("corpus_dedup", 3, "tiny", str(tmp_path))
    with open(tmp_path / "dedup" / "docs.parquet", "ab") as fh:
        fh.write(b"x")
    with pytest.raises(RuntimeError, match="changed after generation"):
        gen.verify(str(tmp_path))


def test_tail_needs_ten_samples_beyond():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, "max of 3")
    samples = [float(i) for i in range(1, 41)]
    value, kind = run.tail(samples)
    assert value == 30.0 and kind == "p75 of 40"
    assert sum(s > value for s in samples) == 10


@pytest.mark.parametrize("trace", [False, True])
def test_loop_runs_a_fixed_abba_sequence(trace, monkeypatch):
    order = []

    class FakeRun:
        failed = 0
        workload = "corpus_dedup"

    def step(kind):
        def record(run_, res, key="plain"):
            order.append(key if kind == "plain" else kind)
        return record

    monkeypatch.setattr(run, "plain_batch", step("plain"))
    monkeypatch.setattr(run, "traced_batch", step("traced"))
    monkeypatch.setattr(run, "probe", step("probe"))
    run.loop(FakeRun(), trace)
    abba = [("plain", "traced"), ("traced", "plain")]
    warmup, batches = run.BATCHES["corpus_dedup"]
    timed = [k for i in range(run.TRACE_PAIRS) for k in abba[i % 2]] if trace else ["plain"] * batches
    assert order == ["warmup"] * warmup + timed + (["probe"] if trace else [])


def test_metric_names_match_benchmark_json():
    e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert e2e == run.END_TO_END_UNITS
    assert per_layer == {**layers.LAYER_METRICS, **run.RUN_METRIC_UNITS}
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    assert list(workloads.WORKLOADS) == list(run.WORKLOADS)


# ------------------------------------------------------ checkers (Spark)

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("spark"))
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    s = run.start_session(work)
    yield s
    run.stop_session(s)


def _rewrite(path: str, edit) -> None:
    """Replace the parquet dataset at ``path`` by ``edit(rows)``."""
    table = pq.read_table(path)
    rows = edit(table.to_pylist())
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(pa.Table.from_pylist(rows, schema=table.schema), f"{path}/part-0.parquet")


def _bump(col, delta):
    """Shift ``col`` in the first row where it is set."""
    def edit(rows):
        row = next(r for r in rows if r[col] is not None)
        row[col] = row[col] + delta
        return rows
    return edit


CORRUPTIONS = {
    "etl_audit": [
        ("etl/raw_creditos", lambda rows: rows[1:]),
        ("etl/raw_creditos", _bump("tiempo_solicitud_giro", 1)),
        ("etl/raw_creditos", _bump("Monto", 0.01)),
        ("etl/modeled_radicados", lambda rows: rows[1:]),
        ("audit/log", lambda rows: rows[1:]),
        ("audit/merged", _bump("Estado", "_x")),
        ("audit/merged", lambda rows: rows + rows[:1]),
    ],
    "corpus_dedup": [
        ("pairs", _bump("jaccard", 0.01)),
        ("pairs", lambda rows: rows[1:]),
        ("clusters", _bump("cluster_id", 1)),
    ],
}


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_checker_rejects_corrupted_output(workload, spark, tmp_path):
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    manifest = gen.generate(workload, 5, "tiny", inp)
    batch, check = workloads.WORKLOADS[workload]
    state = {"texts": workloads.load_texts(inp)} if workload == "corpus_dedup" else {}
    batch(spark, inp, out)
    assert check(out, manifest["truth"], dict(state)) == []
    for k, (table, edit) in enumerate(CORRUPTIONS[workload]):
        bad = str(tmp_path / f"bad{k}")
        shutil.copytree(out, bad)
        _rewrite(os.path.join(bad, table), edit)
        assert check(bad, manifest["truth"], dict(state)), (table, k)


def test_tracers_do_not_share_job_groups(spark):
    from spans import Tracer

    jobs = []
    for _ in range(3):
        tracer = Tracer(spark)
        with tracer.span("count") as rec:
            spark.range(10).count()
        jobs.append(tracer.cost([rec])["jobs"])
        del tracer  # a new tracer may reuse the old one's address
    assert jobs[0] >= 1 and len(set(jobs)) == 1


# ------------------------------------------------- the command itself

@pytest.mark.slow
@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metrics_match_benchmark_json(trace):
    section = "per_layer" if trace else "end_to_end"
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_dedup", "--seed", "2",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in BENCH[section]
    }


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_audit", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout == ""
