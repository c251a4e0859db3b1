#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload etl_audit --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the
seed (in a child process, outside ``setup_s``) and re-checks them
against their manifest. Set-up (``setup_s``) is process start until
the Spark session is up and the first batch, on a cold JVM, has
finished. Then ``BATCHES[workload]`` untimed batches take the JVM past
the steep part of its warm-up curve, and timed batches run back to
back, one at a time (a closed loop with one client). The batch
counts are fixed: ``--seconds`` is accepted but does not set them, so
every run takes its median at the same point of the warm-up curve
whatever the host's speed. Every batch's output is checked.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` times
``TRACE_PAIRS`` untraced/traced pairs in ABBA order, then runs the
layer probes once, and prints the per-layer metrics (see layers.py),
the tracing overhead and whether the exact counts repeated; the spans
go to ``.perfbench_out/``.

The last line of stdout is the result JSON; the line before it echoes
the inputs' manifest, the session settings and every batch time.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ("etl_audit", "corpus_dedup")
#: workload → (untimed warm-up batches, timed batches) after set-up,
#: whatever ``--seconds`` says. The batches after the first still run
#: well above the level the JVM's warm-up curve settles at (the JIT is
#: still compiling), longer for corpus_dedup; the median of the timed
#: ones is robust to a batch slowed by a busy host. The counts fill the
#: run budget; see README.md
BATCHES = {"etl_audit": (1, 4), "corpus_dedup": (3, 5)}
#: untraced/traced batch pairs per traced run, in ABBA order
TRACE_PAIRS = 2
END_TO_END_UNITS = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "batch_p50_s": "s",
}
#: per-layer metrics reported next to layers.LAYER_METRICS
RUN_METRIC_UNITS = {
    "peak_rss_mb": "MB",
    "batch_tail_s": "s",
    "failed_share": "ratio",
    "inputs.gen_s": "s",
    "trace.overhead_s": "s",
    "trace.counts_repeated": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float,
                   help="accepted for a uniform interface; the run length is the fixed batch count")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def session_settings(work: str) -> tuple[dict, dict]:
    """Environment and Spark conf the benchmark passes to the program:
    one core left for the Python driver and the JVM's own threads, a
    fixed heap, scratch space inside the run's work directory (no JVM
    perf-data files in /tmp either) and no console progress bars."""
    cpus = max(1, len(os.sched_getaffinity(0)) - 1)
    tmp = os.path.join(work, "tmp")
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": tmp,
    }
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    return env, conf


def start_session(work: str):
    env, conf = session_settings(work)
    os.environ.update(env)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    from fbs_data_pipelines_spark.session import get_spark

    return get_spark(extra_conf=conf)


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        try:
            with open(f"/proc/{entry}/stat") as fh:
                if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                    kids.append(int(entry))
        except (OSError, ValueError, IndexError):
            continue  # not a process, or it ended meanwhile
    return kids


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM and the processes it
    started (PySpark worker daemons) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    kids = _children(spark._jvm.ProcessHandle.current().pid())
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
        time.sleep(0.1)
    for k in kids:
        with contextlib.suppress(ProcessLookupError):
            os.kill(k, signal.SIGTERM)


def jvm_peak_mb(spark) -> float:
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the JVM")


class Run:
    """One workload's session, inputs and batch bookkeeping."""

    def __init__(self, spark, workload: str, inp: str, work: str, manifest: dict):
        import workloads

        self.spark = spark
        self.workload = workload
        self.inp = inp
        self.work = work
        self.truth = manifest["truth"]
        self.batch, self.check = workloads.WORKLOADS[workload]
        self.state = {"texts": workloads.load_texts(inp)} if workload == "corpus_dedup" else {}
        self.jvm_pid = spark._jvm.ProcessHandle.current().pid()
        self.cpu_per_batch: list[dict] = []
        self.n = 0
        self.attempted = 0
        self.problems: list[str] = []
        self.failed = 0

    def out_dir(self) -> str:
        self.n += 1
        return os.path.join(self.work, "out", str(self.n))

    def quiesce(self) -> None:
        """Start every batch from the same state: Spark's listener bus
        has handled the previous batch's events, and neither the JVM
        nor Python carries the previous batch's garbage into it."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self.spark._jvm.System.gc()
        gc.collect()

    def timed(self, out: str, span=None) -> float | None:
        """Wall seconds of one batch; None if it raised."""
        from spans import no_span

        self.attempted += 1
        self.quiesce()
        before = self.cpu()
        t = time.perf_counter()
        try:
            self.batch(self.spark, self.inp, out, span or no_span)
        except Exception as e:  # a failed batch is counted; the run goes on
            self._fail([f"batch raised {e!r}"])
            return None
        wall = time.perf_counter() - t
        self.cpu_per_batch.append(
            {"wall_s": wall, **{k: v - before[k] for k, v in self.cpu().items()}}
        )
        return wall

    def cpu(self) -> dict:
        """CPU seconds so far of the JVM and of this Python process, and
        the host's steal time (CPU time the hypervisor gave to other
        guests): a batch that got slower with the same CPU was waiting
        for the host, not working."""
        tick = os.sysconf("SC_CLK_TCK")
        with open(f"/proc/{self.jvm_pid}/stat") as fh:
            utime, stime = fh.read().rsplit(")", 1)[1].split()[11:13]
        with open("/proc/stat") as fh:
            steal = int(fh.readline().split()[8])
        return {"jvm_cpu_s": (int(utime) + int(stime)) / tick,
                "python_cpu_s": time.process_time(), "host_steal_s": steal / tick}

    def checked(self, out: str) -> bool:
        try:
            problems = self.check(out, self.truth, self.state)
        except Exception as e:  # an unreadable output fails the check
            problems = [f"check raised {e!r}"]
        self._fail(problems)
        return not problems

    def _fail(self, problems: list[str]) -> None:
        if problems:
            self.failed += 1
            self.problems += problems

    def rdds_left(self) -> int:
        return len(self.spark.sparkContext._jsc.getPersistentRDDs())


def generate(workload: str, seed: int, root: str) -> dict:
    """Make the full-size inputs in a child process (keeps its memory
    out of peak_rss_mb), then re-check them against their manifest."""
    import gen

    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), workload, str(seed), f"full={root}"],
        check=True, timeout=170,
    )
    return gen.verify(root)


def setup(workload: str, inp: str, work: str, manifest: dict, since: float):
    """Session start plus the first batch, on a cold JVM. Returns the
    run and its timings; ``setup_s`` adds ``since`` (process start until
    imports were done). The first batch's output is checked after the
    clock stops, like every other batch's. A warm-up on a smaller input
    would not be cheaper: a cold JVM takes about as long on a tenth of
    the input (see README.md)."""
    t = time.perf_counter()
    spark = start_session(work)
    start_s = time.perf_counter() - t
    try:
        run = Run(spark, workload, inp, work, manifest)
    except BaseException:
        stop_session(spark)
        raise
    out = run.out_dir()
    wall = run.timed(out)
    warm_s = time.perf_counter() - t - start_s
    if wall is not None:
        run.checked(out)
    shutil.rmtree(out, ignore_errors=True)
    timing = {"start_s": start_s, "warm_s": warm_s, "setup_s": since + start_s + warm_s}
    return run, timing


def plain_batch(run: Run, res: dict, key: str = "plain") -> None:
    out = run.out_dir()
    wall = run.timed(out)
    if wall is not None and run.checked(out):
        res[key].append(wall)
    res["rdds"].append(run.rdds_left())
    shutil.rmtree(out, ignore_errors=True)


def traced_batch(run: Run, res: dict) -> None:
    """One batch with the layer functions spanned; appends its wall
    time, per-layer metrics (read from the status store right away,
    before later jobs push its stages out) and spans."""
    import layers
    from spans import Tracer

    tracer = Tracer(run.spark)
    layers.instrument(tracer, run.workload)
    out = run.out_dir()
    try:
        wall = run.timed(out, tracer.span)
    finally:
        tracer.restore()
    if wall is not None and run.checked(out):
        res["traced"].append(wall)
        m = layers.layer_metrics(tracer, run.workload, wall, layers.part_files(out))
        m["caching.rdds_left"] = run.rdds_left()
        res["per_layer"].append(m)
        res["spans"].append(tracer.dump())
    shutil.rmtree(out, ignore_errors=True)


def probe(run: Run, res: dict) -> None:
    """The layer probes, once, after every timed batch: their batches
    never sit between an untraced and a traced one."""
    import layers
    from spans import Tracer

    out = run.out_dir()
    probes = layers.probes(Tracer(run.spark), run.workload,
                           lambda: run.batch(run.spark, run.inp, out))
    for m in res["per_layer"]:
        layers.subtract_probes(m, run.workload, probes)
    shutil.rmtree(out, ignore_errors=True)


def loop(run: Run, trace: bool) -> dict:
    """The workload's untimed warm-up batches, then its timed ones back
    to back. A traced run times ``TRACE_PAIRS`` untraced/traced
    pairs in ABBA order instead, so neither side sits later on the JVM's
    warm-up curve, and runs the layer probes after the last pair."""
    res = {"warmup": [], "plain": [], "traced": [], "per_layer": [], "spans": [], "rdds": []}
    warmup, timed = BATCHES[run.workload]
    for _ in range(warmup):
        plain_batch(run, res, "warmup")
    res["rdds"].clear()
    pair = (plain_batch, traced_batch)
    for i in range(TRACE_PAIRS if trace else timed):
        if run.failed:
            break
        if trace:
            for step in pair if i % 2 == 0 else pair[::-1]:
                step(run, res)
        else:
            plain_batch(run, res)
    if trace and not run.failed:
        probe(run, res)
    return res


def tail(samples: list[float]) -> tuple[float, str]:
    """Highest nearest-rank percentile with ≥10 samples beyond it; with
    fewer than 11 samples, the maximum."""
    s = sorted(samples)
    if len(s) <= 10:
        return s[-1], f"max of {len(s)}"
    k = len(s) - 10  # rank with ten samples beyond it
    return s[k - 1], f"p{100 * k // len(s)} of {len(s)}"


def layer_summary(workload: str, per_layer: list[dict]) -> tuple[dict, dict]:
    """Median of each per-layer metric over the traced batches (the
    last value for counts), and whether each exact count repeated."""
    import layers

    metrics = {}
    for k, unit in layers.LAYER_METRICS.items():
        vals = [m[k] for m in per_layer] or [0]
        metrics[k] = vals[-1] if unit == "count" else statistics.median(vals)
    repeated = {k: len({m[k] for m in per_layer}) == 1 for k in layers.EXACT_COUNTS[workload]}
    return metrics, repeated


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import fbs_data_pipelines_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program ({e}); run from the repository root",
              file=sys.stderr)
        return 2
    # imported before ``since`` so that their import time is set-up time
    import layers
    import workloads  # noqa: F401

    since = time.perf_counter() - T0
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "in")
    spark = None
    try:
        t = time.perf_counter()
        manifest = generate(args.workload, args.seed, inp)
        gen_s = time.perf_counter() - t

        run, timing = setup(args.workload, inp, work, manifest, since)
        spark = run.spark
        res = loop(run, bool(args.trace))
        problems = run.problems
        peak_mb = jvm_peak_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        conf = {k: spark.conf.get(k) for k in (
            "spark.master", "spark.sql.shuffle.partitions", "spark.driver.memory",
            "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled",
        )}
        conf["defaultParallelism"] = spark.sparkContext.defaultParallelism
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    rows = manifest["truth"]["input_rows"]
    batches = res["plain"] or [float("nan")]
    tail_s, tail_kind = tail(batches)
    env, extra_conf = session_settings(work)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "loop": "closed, 1 client, 1 batch at a time",
        "inputs": {k: v for k, v in manifest.items() if k != "truth"},
        "input_rows": rows,
        "session": {"env": env, "extra_conf": extra_conf, "conf": conf},
        "gen_s": gen_s,
        "setup": timing,
        "warmup_batch_s": res["warmup"],
        "batch_s": res["plain"],
        "batch_p50_samples": len(res["plain"]),
        "cpu_per_batch": run.cpu_per_batch,
        "batch_tail": {"value_s": tail_s, "kind": tail_kind},
        "peak_rss_mb": peak_mb,
        "rdds_left_per_batch": res["rdds"],
        "problems": problems[:20],
    }
    if "pairs" in run.state:
        pairs = json.dumps(sorted(run.state["pairs"])).encode()
        detail["pair_set_sha256"] = hashlib.sha256(pairs).hexdigest()
    if args.trace:
        metrics, repeated = layer_summary(args.workload, res["per_layer"])
        metrics["session.start_s"] = timing["start_s"]
        metrics["session.warm_s"] = timing["warm_s"]
        traced = res["traced"] or [float("nan")]
        metrics.update({
            "peak_rss_mb": peak_mb,
            "batch_tail_s": tail_s,
            "failed_share": run.failed / run.attempted,
            "inputs.gen_s": gen_s,
            "trace.overhead_s": statistics.median(traced) - statistics.median(batches),
            "trace.counts_repeated": sum(repeated.values()) / len(repeated),
        })
        units = {**layers.LAYER_METRICS, **RUN_METRIC_UNITS}
        os.makedirs(OUT, exist_ok=True)
        spans_path = os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json")
        with open(spans_path, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "batches": res["spans"]}, fh)
        detail.update({
            "traced_batch_s": res["traced"],
            "exact_counts_repeated": repeated,
            "per_layer_per_batch": res["per_layer"],
            "spans_file": os.path.relpath(spans_path, ROOT),
        })
    else:
        metrics = {
            "setup_s": timing["setup_s"],
            "rows_per_s": rows / statistics.median(batches),
            "batch_p50_s": statistics.median(batches),
        }
        units = END_TO_END_UNITS
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": not problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
