"""Streaming re-expression of the reference's incremental semantics.

The reference achieves incrementality by full-snapshot diff
(C2 merge, /root/reference/src/log_handler.py:99-128). In Structured
Streaming that becomes: snapshots arrive as files → each micro-batch
merges into the published table via ``foreachBatch`` (the canonical
upsert-sink pattern for non-lakehouse sinks).

Also ships a watermarked windowed aggregation (late-data-safe event
rollup) — the streaming operator a 100 TB event pipeline needs that
the reference lacks.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from fbs_data_pipelines_spark.functions.cleaning import round_half_up
from fbs_data_pipelines_spark.operators.audit import merge_snapshot


def _swap_publish(spark, published_path: str, crash_after=None) -> None:
    """Atomically-enough publish of ``<published>__staging`` over
    ``published_path`` via rename, keeping a ``__old`` backup so a
    crash at ANY step leaves a complete copy of the previous table
    under either dst or bak (staging already holds the new one).

    Step order matters: if a prior crash left the table ONLY under
    bak, restore it to dst first — deleting bak while dst is absent
    would destroy the sole surviving copy. The caller materialized
    the staging write before calling, so the restored files are no
    longer read by any live plan.

    ``crash_after(step_name)`` is a test-only fault-injection hook
    called after each step; raising from it simulates a crash there.
    """
    base = published_path.rstrip("/")
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI.create(base + "__staging"), conf
    )
    dst = jvm.org.apache.hadoop.fs.Path(base)
    bak = jvm.org.apache.hadoop.fs.Path(base + "__old")
    staging = jvm.org.apache.hadoop.fs.Path(base + "__staging")

    def _step(name: str) -> None:
        if crash_after is not None:
            crash_after(name)

    if not fs.exists(dst) and fs.exists(bak):
        fs.rename(bak, dst)
        _step("restore")
    fs.delete(bak, True)  # stale backup from a crash after publish
    _step("delete_stale_bak")
    if fs.exists(dst):
        fs.rename(dst, bak)
        _step("retire_dst")
    fs.rename(staging, dst)
    _step("publish")
    fs.delete(bak, True)
    _step("cleanup")


def streaming_snapshot_merge(
    spark: SparkSession,
    snapshot_dir: str,
    snapshot_schema,
    published_path: str,
    checkpoint_dir: str,
    id_col: str,
    target_cols: Sequence[str],
    versioned: bool = False,
) -> StreamingQuery:
    """File-arrival stream of snapshots → foreachBatch C2 merge.

    Each micro-batch plays the reference's get_table_updated against
    the current published table — SCD-1 with exactly-once per batch
    via the checkpoint.

    ``versioned=True`` is the lakehouse cutover: the batch body
    becomes one ``VersionedTable.merge`` (MERGE-shaped upsert with an
    atomic pointer commit, snapshot isolation, and time travel —
    ``sources/versioned.py``), replacing the rename dance entirely.
    ``versioned=False`` keeps the plain-parquet publish with the
    crash-safe backup swap below.
    """

    stream = (
        spark.readStream.schema(snapshot_schema)
        .option("maxFilesPerTrigger", 1)
        .csv(snapshot_dir, header=True)
    )

    if versioned:
        from fbs_data_pipelines_spark.sources.versioned import VersionedTable

        def merge_batch_versioned(batch_df: DataFrame, batch_id: int) -> None:
            VersionedTable(batch_df.sparkSession, published_path).merge(
                batch_df, id_col=id_col, target_cols=list(target_cols)
            )

        return (
            stream.writeStream.foreachBatch(merge_batch_versioned)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_b = batch_df.sparkSession
        backup_path = published_path.rstrip("/") + "__old"
        tmp_path = published_path.rstrip("/") + "__staging"
        # a crash between the two publish renames below leaves the
        # table only under __old — recover from it on replay so the
        # checkpoint's exactly-once contract holds (previously a
        # delete-then-rename swap could lose ALL prior data if the
        # process died in the gap).
        published = None
        for path in (published_path, backup_path):
            try:
                published = spark_b.read.parquet(path)
                break
            except Exception:
                continue
        if published is None:
            merged = batch_df
        else:
            merged = merge_snapshot(
                published, batch_df, id_col=id_col, target_cols=list(target_cols)
            )
        # the merged plan READS the published table, so it can't be
        # overwritten in place. Scale-safe cycle break: write to a
        # staging dir (distributed — never collects through the
        # driver), then swap via the Hadoop FS API (portable across
        # local/HDFS/S3A). The staging write MATERIALIZES the merge
        # before any rename touches the published copy.
        merged.write.mode("overwrite").parquet(tmp_path)
        _swap_publish(spark_b, published_path)

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


#: fixed-length duration units ``F.window`` accepts that are safe to
#: rewrite as epoch arithmetic (calendar units — month/year — are not)
_FIXED_UNIT_US = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
    "week": 7 * 86_400_000_000,
}


def _duration_micros(duration: str) -> int | None:
    """``"1 hour"`` → 3_600_000_000, or None when not a plain
    fixed-length ``"<int> <unit>[s]"`` duration."""
    parts = duration.strip().lower().split()
    if len(parts) != 2:
        return None
    qty, unit = parts
    unit = unit.rstrip("s") if unit != "s" else unit
    if not qty.lstrip("-").isdigit() or int(qty) <= 0:
        return None
    us = _FIXED_UNIT_US.get(unit)
    return None if us is None else int(qty) * us


def windowed_event_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window rollup (works on both batch and
    streaming DataFrames): per (window, event_type) count + value sum.
    Late rows beyond the watermark are dropped in streaming mode.

    Batch plans rewrite the tumbling ``F.window`` as epoch-micros
    bucket arithmetic: ``F.window``'s struct expression recomputes the
    timestamp→long conversion six times per row (no common
    subexpression elimination inside the named_struct) and groups on a
    16-byte struct<timestamp,timestamp> key; the rewrite computes the
    conversion once, groups on one 8-byte long, and rebuilds
    start/end AFTER the aggregate — identical values, including
    ``F.window``'s floor alignment for pre-epoch timestamps and its
    implicit not-null filter. Streaming keeps ``F.window`` (the
    watermark/eviction machinery requires the window struct)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    # the rewrite needs unix_micros, which only accepts plain
    # TIMESTAMP — NTZ inputs (raw parquet scans) keep F.window, whose
    # window struct also preserves their NTZ type
    dur_us = (
        None
        if events.isStreaming or dict(events.dtypes).get(ts_col) != "timestamp"
        else _duration_micros(window_duration)
    )
    if dur_us is not None:
        e = F.unix_micros(F.col(ts_col))
        m = e % F.lit(dur_us)
        start = e - F.when(m < 0, m + dur_us).otherwise(m)
        return (
            src.filter(F.col(ts_col).isNotNull())
            .groupBy(start.alias("__ws"), F.col("event_type"))
            .agg(
                F.count("*").alias("n_events"),
                round_half_up(F.sum("value"), 4).alias("sum_value"),
            )
            .select(
                F.timestamp_micros(F.col("__ws")).alias("window_start"),
                F.timestamp_micros(F.col("__ws") + dur_us).alias("window_end"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )
    return (
        src.groupBy(
            F.window(F.col(ts_col), window_duration).alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            round_half_up(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_incremental_rollup(
    stream: DataFrame,
    keys: Sequence[str],
    measures: Sequence[str],
    state_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming delta maintenance of a materialized rollup: each
    micro-batch's partial aggregate folds into a ``VersionedTable``
    holding the mergeable state (``operators/incremental.py``) — the
    telemetry pattern for a long-running ingest (per-source row
    counts, value sums, min/max freshness) kept queryable at
    groups-size cost, never re-scanning history.

    Exactly-once: a COUNT/SUM fold is not idempotent, so replaying a
    micro-batch after a crash would double-count — unlike the
    MERGE-shaped snapshot upsert above, which replays harmlessly. The
    batch id is therefore recorded transactionally with every commit
    (``commit_meta``, written before the data so even a
    pointer-recovery version carries it); a replayed batch sees its
    own id on the live version and skips.
    """
    from fbs_data_pipelines_spark.operators.incremental import (
        incremental_rollup,
    )
    from fbs_data_pipelines_spark.sources.versioned import VersionedTable

    key_list, measure_list = list(keys), list(measures)

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        t = VersionedTable(batch_df.sparkSession, state_path)
        live = t.latest_version()
        state = None
        if live is not None:
            info = t.commit_info(live) or {}
            if info.get("batch_id", -1) >= batch_id:
                return  # crash-replay of an already-folded batch
            state = t.read(live)
        new_state = incremental_rollup(
            state, batch_df, key_list, measure_list
        )
        t.commit(new_state, commit_meta={"batch_id": batch_id})

    return (
        stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_ohlc(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    group_col: str = "event_type",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window OHLC — the streaming twin of
    ``operators/timeseries.ohlc`` (works on both batch and streaming
    DataFrames). ``min_by``/``max_by`` over struct(ts, value) are
    ORDER-INSENSITIVE aggregates, so the candlestick is exact under
    any micro-batch arrival order: whatever interleaving the stream
    delivers, the earliest-row open and latest-row close win (same
    tie rules as the batch operator — exact-ts ties break toward the
    smaller value for open, larger for close). Late rows beyond the
    watermark are dropped in streaming mode; values pass through
    untouched."""
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    v = F.col(value_col)
    key = F.struct(F.col(ts_col), v)
    return (
        src.groupBy(
            F.window(F.col(ts_col), window_duration).alias("w"),
            F.col(group_col),
        )
        .agg(
            F.min_by(v, key).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, key).alias("close"),
            F.count("*").alias("n"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            group_col,
            "open",
            "high",
            "low",
            "close",
            "n",
        )
    )


def streaming_scd2_apply(
    spark: SparkSession,
    snapshot_dir: str,
    snapshot_schema,
    table_path: str,
    checkpoint_dir: str,
    key_col: str,
    attr_cols: Sequence[str],
    run_ts_fn=None,
) -> StreamingQuery:
    """Streaming Type-2 dimension maintenance — the history-keeping
    twin of ``streaming_snapshot_merge`` (which is SCD-1): each
    arriving full snapshot plays ``operators/audit.scd2_apply``
    against the dimension's current state in a ``VersionedTable`` and
    commits the result as the next version. Changed keys
    close-and-reopen at the batch's ``run_ts``, vanished keys close
    (full-snapshot mode), and because the dim lives in a versioned
    table, EVERY historical dimension state is also time-travelable —
    SCD2 inside each version, version history across commits.

    ``run_ts_fn(batch_id) -> str`` stamps each batch's validity
    boundary (defaults to the zero-padded batch id — deterministic
    and monotone under availableNow ordering).

    Exactly-once: the checkpoint prevents re-delivery; if a crash
    lands between commit and checkpoint, the replayed batch is
    SEMANTICALLY idempotent (identical snapshot ⇒ every attr compares
    equal ⇒ no new generations) at the cost of one content-identical
    extra version — documented, not hidden.
    """
    from fbs_data_pipelines_spark.operators.audit import scd2_apply
    from fbs_data_pipelines_spark.sources.versioned import VersionedTable

    if run_ts_fn is None:
        run_ts_fn = lambda b: f"batch-{b:06d}"  # noqa: E731

    stream = (
        spark.readStream.schema(snapshot_schema)
        .option("maxFilesPerTrigger", 1)
        .csv(snapshot_dir, header=True)
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        vt = VersionedTable(sp, table_path)
        ts = run_ts_fn(batch_id)
        current = vt.latest_version()
        if current is None:
            dim = batch_df.select(
                key_col,
                *attr_cols,
                F.lit(ts).alias("valid_from"),
                F.lit(None).cast("string").alias("valid_to"),
                F.lit(True).alias("is_current"),
            )
        else:
            dim = scd2_apply(
                vt.read(current),
                batch_df,
                key_col,
                list(attr_cols),
                ts,
                close_missing=True,
            )
        vt.commit(dim)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_cdc_apply(
    stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    key_cols: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
    n_buckets: int | None = None,
) -> StreamingQuery:
    """Streaming CDC materialization — the production shape of
    ``operators/cdc.py``: changelog micro-batches fold onto a
    ``VersionedTable`` via foreachBatch, crash-replay-safe, with
    EVERY intermediate snapshot time-travelable (``read(version)``)
    — the streaming twin that completes CDC the way
    ``streaming_scd2_apply`` completed SCD2.

    State = the per-key WINNERS table (``cdc_winners``), tombstones
    INCLUDED: winners(state ∪ batch) ≡ winners(full history), so the
    fold is

    * order-correct under arbitrary cross-batch disorder — a
      straggler event older than a retained delete tombstone loses
      to it instead of wrongly resurrecting the key (the classic
      tombstone problem a drop-deletes-per-batch fold gets wrong);
    * one combiner-reduced shuffle per micro-batch, state-sized
      (≤ |keys| rows), never re-scanning the changelog history;
    * exactly-once: the winners fold is NOT idempotent-free under
      replay in general (a replayed batch is absorbed by the max —
      but commit itself would double-append a version), so the batch
      id rides transactionally in ``commit_meta`` (written BEFORE the
      data, same protocol as ``streaming_incremental_rollup``) and a
      crash-replayed batch sees its own id on the live version and
      skips.

    Read the live snapshot with ``cdc_snapshot(vt.read())`` (drops
    tombstones + op); long-running tables compact tombstones out with
    ``operators/cdc.compact_cdc_table`` once upstream guarantees no
    straggler older than the retention watermark remains (caller
    policy, like Kafka log compaction).

    100 TB cost note: in the default plain mode each fold reads and
    REWRITES the full state (O(|keys|) I/O per micro-batch, like a
    MERGE without file pruning) — the shuffle is state-sized, but so
    is the write. That is the right trade at dimension/entity scale
    (the CDC snapshot case) and amortizes by sizing micro-batches
    (maxFilesPerTrigger / maxBytesPerTrigger) so batch work dominates
    state I/O. For billion-key states pass ``n_buckets``: the state
    lives in a TYPED bucketed ``VersionedTable`` (single key column
    only — the PK bucket hash is one column; pre-concat composite
    keys) and each fold goes through ``transform_buckets`` — only the
    PK buckets the batch touches are read and rewritten, clean
    buckets are re-referenced in the manifest at zero I/O, so a fold
    costs O(batch + dirty-bucket data) instead of O(table). The fold
    keeps its semantics because winners(dirty-state ∪ batch) over a
    per-key reduction never moves a key across buckets.
    """
    from fbs_data_pipelines_spark.operators.cdc import cdc_winners
    from fbs_data_pipelines_spark.sources.versioned import VersionedTable

    keys = list(key_cols)
    if n_buckets is not None and len(keys) != 1:
        raise ValueError(
            "bucketed streaming CDC needs exactly one key column "
            "(the PK bucket hash) — pre-concat composite keys"
        )

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        if n_buckets is not None:
            t = VersionedTable(
                sp, table_path, id_col=keys[0], n_buckets=n_buckets,
                typed=True,
            )
        else:
            t = VersionedTable(sp, table_path)
        live = t.latest_version()
        if live is not None:
            info = t.commit_info(live) or {}
            if info.get("batch_id", -1) >= batch_id:
                return  # crash-replay of an already-folded batch
        if n_buckets is not None:
            t.transform_buckets(
                batch_df,
                lambda cur, d: cdc_winners(
                    cur.unionByName(d), keys, seq_col, op_col
                ),
                commit_meta={"batch_id": batch_id},
            )
            return
        events = batch_df
        if live is not None:
            events = t.read(live).unionByName(batch_df)
        new_state = cdc_winners(events, keys, seq_col, op_col)
        t.commit(new_state, commit_meta={"batch_id": batch_id})

    return (
        stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
