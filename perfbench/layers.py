"""Per-layer metrics from the traced batches of each workload.

``instrument`` wraps the layer functions each workload reaches;
``probes`` are extra runs of the same batch with the parquet sinks
(and, for the ``etl`` half of ``etl_audit``, the transforms) swapped
out. Catalyst fuses extract, transform and load into one stage, so a
layer's executor CPU is the difference between two of these runs:

    sources = extract → noop
    plans   = (extract + transform → noop) − sources
    sinks   = full batch − (same batch → noop)

Metrics of layers a workload never reaches are reported as 0.
"""

from __future__ import annotations

import os

import fbs_data_pipelines_spark.pipeline as pipeline_mod
import workloads

#: per-layer metric → unit; the order of BENCHMARK.json's per_layer
LAYER_METRICS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "sources.list_s": "s",
    "sources.parse_cpu_s": "s",
    "sources.tasks": "count",
    "sources.input_bytes": "bytes",
    "plans.build_s": "s",
    "plans.cpu_s": "s",
    "pipeline.jobs": "count",
    "pipeline.self_s": "s",
    "sinks.cpu_s": "s",
    "sinks.output_bytes": "bytes",
    "sinks.files": "count",
    "audit.log_s": "s",
    "audit.merge_s": "s",
    "audit.cpu_s": "s",
    "audit.jobs": "count",
    "audit.tasks": "count",
    "audit.shuffle_write_bytes": "bytes",
    "audit.spill_bytes": "bytes",
    "audit.log_rows": "count",
    "dedup.pairs_s": "s",
    "dedup.clusters_s": "s",
    "dedup.cpu_s": "s",
    "dedup.jobs": "count",
    "dedup.cluster_rounds": "count",
    "dedup.shuffle_write_bytes": "bytes",
    "dedup.pairs": "count",
    "caching.rdds_left": "count",
    "executor.cpu_s": "s",
    "executor.run_s": "s",
    "executor.gc_s": "s",
    "executor.parallelism": "ratio",
}

#: counts that should repeat exactly from batch to batch (⚑)
EXACT_COUNTS = {
    "etl_audit": ["sources.tasks", "sources.input_bytes", "pipeline.jobs", "audit.jobs",
                  "audit.tasks", "audit.log_rows", "sinks.files", "caching.rdds_left"],
    "corpus_dedup": ["dedup.jobs", "dedup.cluster_rounds", "dedup.pairs", "sinks.files",
                     "caching.rdds_left"],
}


def instrument(tracer, workload: str) -> None:
    """Span every layer function the workload's batch reaches, where
    its caller looks it up."""
    if workload == "etl_audit":
        for key in ("list_layer", "latest_files", "read_dialected_csv"):
            tracer.wrap(pipeline_mod, key, f"sources.{key}")
        reg = pipeline_mod.TRANSFORM_REGISTRY
        for key, fn in list(reg.items()):
            tracer.wrap(reg, key, f"plans.{fn.__name__}")
        tracer.wrap(pipeline_mod, "write_parquet", "sinks.write_parquet")
        tracer.wrap(workloads, "audit_from_registry", "audit.audit_from_registry")
        tracer.wrap(workloads, "merge_snapshot", "audit.merge_snapshot")
        tracer.wrap(workloads, "write_parquet", "sinks.write_parquet")
    else:
        from pyspark.sql.classic.dataframe import DataFrame

        # dup_clusters runs one changed-label count() per round
        tracer.wrap(DataFrame, "count", "dedup.round")
        tracer.wrap(workloads, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs")
        tracer.wrap(workloads, "dup_clusters", "dedup.dup_clusters")
        tracer.wrap(workloads, "write_parquet", "sinks.write_parquet")
        tracer.wrap(workloads, "release_cache", "caching.release_cache")


def _identity(df, **kwargs):
    return df


def probes(tracer, workload: str, run_probe) -> dict[str, dict]:
    """Stage cost of the sink jobs when the batch writes to Spark's noop
    sink instead of parquet (``no_sink``; ``etl_no_sink`` for the
    ``etl`` half alone), and when the ``etl`` half also skips the
    transforms and the ``audit`` half does not run (``extract_only``).
    ``run_probe()`` runs one untraced batch."""
    if workload == "corpus_dedup":
        return {}  # the clusters read the written pairs back: no noop sink

    def noop_sink(half):
        def sink(df, path, **kwargs):
            with tracer.span(f"probe.sink.{half}"):
                df.write.format("noop").mode("overwrite").save()
        return sink

    def etl_sinks(rec):
        return tracer.cost([s for s in tracer.subtree(rec) if s["name"] == "probe.sink.etl"])

    out = {}
    tracer.replace(pipeline_mod, "write_parquet", noop_sink("etl"))
    tracer.replace(workloads, "write_parquet", noop_sink("audit"))
    try:
        with tracer.span("probe.no_sink") as rec:
            run_probe()
        out["no_sink"] = tracer.cost(tracer.subtree(rec)[1:])
        out["etl_no_sink"] = etl_sinks(rec)
        reg = pipeline_mod.TRANSFORM_REGISTRY
        for key in list(reg):
            tracer.replace(reg, key, _identity)
        tracer.replace(workloads, "audit_merge", lambda *args, **kwargs: None)
        with tracer.span("probe.extract_only") as rec:
            run_probe()
        out["extract_only"] = etl_sinks(rec)
    finally:
        tracer.restore()
    return out


def part_files(path: str) -> int:
    return sum(
        1 for _, _, names in os.walk(path) for n in names if n.startswith("part-")
    )


def layer_metrics(tracer, workload: str, batch_s: float, files: int) -> dict:
    """Per-layer metrics of one traced batch (spans opened by the
    batch function and by :func:`instrument`) that wrote ``files``
    part files. ``sinks.cpu_s`` is the write jobs' whole CPU here;
    :func:`subtract_probes` takes the probes' shares out of it."""
    m = dict.fromkeys(LAYER_METRICS, 0)
    roots = [s for s in tracer.spans if s["parent"] is None]
    tree = [s for r in roots for s in tracer.subtree(r)]
    full = tracer.cost(tree)
    m["executor.cpu_s"] = full["cpu_s"]
    m["executor.run_s"] = full["run_s"]
    m["executor.gc_s"] = full["gc_s"]
    m["executor.parallelism"] = full["run_s"] / batch_s
    m["sinks.output_bytes"] = full["output_bytes"]
    m["sinks.files"] = files
    m["sinks.cpu_s"] = tracer.cost([s for s in tracer.named("sinks.write_parquet") if s in tree])["cpu_s"]
    dur = tracer.duration

    if workload == "etl_audit":
        run = tracer.named("pipeline.run")[0]
        m["sources.list_s"] = sum(dur(s) for s in tracer.named("sources.") if s in tree)
        m["plans.build_s"] = sum(dur(s) for s in tracer.named("plans.") if s in tree)
        m["pipeline.jobs"] = tracer.cost(tracer.subtree(run))["jobs"]
        m["pipeline.self_s"] = tracer.self_time(run)
        log, merge = tracer.named("audit.log")[0], tracer.named("audit.merge")[0]
        audit = tracer.cost(tracer.subtree(log) + tracer.subtree(merge))
        m["audit.log_s"] = dur(log)
        m["audit.merge_s"] = dur(merge)
        m["audit.cpu_s"] = audit["cpu_s"]
        m["audit.jobs"] = audit["jobs"]
        m["audit.tasks"] = audit["tasks"]
        m["audit.shuffle_write_bytes"] = audit["shuffle_write_bytes"]
        m["audit.spill_bytes"] = audit["spill_bytes"]
        m["audit.log_rows"] = tracer.cost(tracer.subtree(log))["output_records"]
    else:
        pairs, clusters = tracer.named("dedup.pairs")[0], tracer.named("dedup.clusters")[0]
        m["dedup.pairs_s"] = dur(pairs)
        m["dedup.clusters_s"] = dur(clusters)
        m["dedup.cpu_s"] = full["cpu_s"]
        m["dedup.jobs"] = full["jobs"]
        m["dedup.shuffle_write_bytes"] = full["shuffle_write_bytes"]
        m["dedup.pairs"] = tracer.cost(tracer.subtree(pairs))["output_records"]
        cc = tracer.subtree(tracer.named("dedup.dup_clusters")[0])
        m["dedup.cluster_rounds"] = sum(s["name"] == "dedup.round" for s in cc)
    return m


def subtract_probes(m: dict, workload: str, probe: dict) -> None:
    """Split the fused stages' CPU by the :func:`probes` runs, in place."""
    if "no_sink" not in probe:
        return
    m["sinks.cpu_s"] -= probe["no_sink"]["cpu_s"]
    src = probe["extract_only"]
    m["sources.parse_cpu_s"] = src["cpu_s"]
    m["sources.tasks"] = src["tasks"]
    m["sources.input_bytes"] = src["input_bytes"]
    m["plans.cpu_s"] = probe["etl_no_sink"]["cpu_s"] - src["cpu_s"]
