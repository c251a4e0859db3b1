"""SparkSession builder with engine-wide conventions.

Conventions (SURVEY §7 step 1):
- UTC session timezone (reproducible date/timestamp arithmetic).
- ANSI off: the reference's ``strict=False`` casts / lenient parses mean
  *null-on-failure*; non-ANSI ``cast`` matches that. Where possible the
  expression library still uses ``try_cast`` / ``try_to_timestamp``
  explicitly so the code stays correct even under ANSI mode.
- AQE on (runtime join re-planning, partition coalescing, skew splits).
- Arrow enabled for the pandas-UDF slow path.
- ``spark.sql.shuffle.partitions`` sized from the local parallelism for
  tests; on a real cluster leave AQE's coalescing to right-size it.
- DataFrame debugging off (``spark.python.sql.dataFrameDebugging.enabled
  =false``). With it on, PySpark wraps every ``F.*`` and ``DataFrame``
  call in about six extra py4j round-trips to record the Python call
  site, which doubles plan-build cost (building ``minhash_lsh_pairs``
  takes 1,443 round-trips with it on, 723 off). The trade-off:
  analysis and runtime errors no longer name the Python line that
  built the failing expression. To get that context back, pass
  ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
  to :func:`get_spark`; PySpark reads the setting once per process, at
  the first API call after a session exists.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def _executor_memory_mb(
    master: str | None, extra_conf: dict[str, str] | None
) -> int | None:
    """Best-effort executor heap size in MB, from an explicit
    ``spark.executor.memory`` conf or a ``local-cluster[n,c,mem]``
    master string. None when unknown (plain ``local[*]``: executors
    share the driver heap, so driver memory governs)."""
    raw = (extra_conf or {}).get("spark.executor.memory")
    if raw:
        m = re.fullmatch(r"(\d+)([kmgt]?)b?", raw.strip().lower())
        if m:
            mult = {"": 1 / (1024 * 1024), "k": 1 / 1024, "m": 1, "g": 1024,
                    "t": 1024 * 1024}[m.group(2)]
            return int(int(m.group(1)) * mult)
    m = re.match(r"local-cluster\[\s*\d+\s*,\s*\d+\s*,\s*(\d+)\s*\]", master or "")
    if m:
        return int(m.group(1))
    return None


def _broadcast_threshold(
    master: str | None, extra_conf: dict[str, str] | None
) -> int:
    """Pressure-aware ``autoBroadcastJoinThreshold`` (r17 verdict
    item 6). The engine default is 64 MB — 6.4× Spark's stock 10 MB —
    which is right for the ≥8 GB heaps the engine normally runs on,
    but widens exposure to the known post-executor-loss failure mode
    on memory-tight executors: a re-materialized broadcast hash
    relation holds execution memory until ContextCleaner GC, and the
    NEXT broadcast build on a ≤3 GiB executor can then OOM
    (EVIDENCE_r17 §13 — never a wrong row, purely an allocation
    failure). On executors under 4 GiB automatic broadcast joins are
    therefore DISABLED (-1): the r17 isolation matrix showed a merely
    smaller threshold does not help — even candidate-pair-sized
    relations re-materialized across a kill pin execution memory —
    while broadcasts-off passed 3/3, and the r18 capstone re-check
    confirmed 10 MB still OOMs where -1 heals. Shuffle joins on a
    tight test topology cost little; explicit F.broadcast hints in
    operators still apply where the caller KNOWS the side is bounded.
    ``SPARK_GRAFT_BROADCAST_THRESHOLD`` (bytes; -1 disables) overrides
    — the documented mitigation knob. Plans change under the fallback
    (broadcast → shuffle join); results never do (the broadcast-off
    oracle axis is green, tools/check_oracle.py --conf)."""
    env = os.environ.get("SPARK_GRAFT_BROADCAST_THRESHOLD")
    if env:
        return int(env)
    mem = _executor_memory_mb(master, extra_conf)
    if mem is not None and mem < 4096:
        return -1
    return 64 * 1024 * 1024


def get_spark(
    app_name: str = "fbs_data_pipelines_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. On a cluster, pass ``master=None`` with a spark-submit
    managed session and the builder only applies conf.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom filters (off by default in OSS Spark): inject a
        # might-contain predicate on the big side of a shuffle join when
        # the other side carries a selective filter. Never changes
        # results; default thresholds (creation side ≤10MB post-filter,
        # application side ≥10GB scan) mean it only fires at the scale
        # where the saved shuffle I/O dwarfs the bloom build.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            str(_broadcast_threshold(master, extra_conf)),
        )
        # parquet TIMESTAMP(NANOS) (e.g. pandas-written event streams)
        # is read as long nanos; sources normalize to micros explicitly
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
