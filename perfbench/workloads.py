"""The two workloads: one batch each through the program's public
entry points, and the output check every batch must pass.

``etl_audit`` is the reference's EP1 then EP2: the ``etl`` half runs
the extract → transform → load pipeline, the ``audit`` half the audit
log plus snapshot merge, each on its own input part. ``corpus_dedup``
runs the near-duplicate operators.

A batch is timed by the caller from the call into the layer's entry
point until its result is fully written. Checks run after the timer
stops and return a list of problems (empty = correct). They read the
written parquet with pyarrow and recompute in Python, so a check costs
milliseconds and runs no Spark job between two timed batches.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq
from pyspark.sql import SparkSession

import gen
from spans import no_span
from fbs_data_pipelines_spark.caching import release_cache
from fbs_data_pipelines_spark.operators.audit import audit_from_registry, merge_snapshot
from fbs_data_pipelines_spark.operators.dedup import dup_clusters, minhash_lsh_pairs
from fbs_data_pipelines_spark.pipeline import ETLPipeline
from fbs_data_pipelines_spark.schema.registry import ColumnSpec, DataDictionary
from fbs_data_pipelines_spark.sinks.writers import write_parquet

RUN_DATE = dt.date(2024, 3, 6)
RUN_TS = dt.datetime(2024, 3, 6, 12, 0)
LAYERS = ("raw", "modeled")
#: minhash_lsh_pairs arguments (ROADMAP item 1's operator)
DEDUP_ARGS = {"num_hashes": 8, "bands": 4, "n": 3, "threshold": 0.5}

DICTIONARY = DataDictionary(
    "radicados",
    [ColumnSpec(gen.AUDIT_PK, "String", hierarchy="PK")]
    + [ColumnSpec(c, "String", audit=True) for c in gen.AUDIT_COLS]
    + [ColumnSpec(c, "String") for c in gen.AUDIT_OTHER],
)


def read(out: str, name: str, cols: list[str]):
    """Columns ``cols`` of one written parquet dataset (part files;
    ``_SUCCESS`` is skipped) as a pyarrow table; ``num_rows`` holds
    even when ``cols`` is empty."""
    return pq.read_table(os.path.join(out, name), columns=cols)


def table_hash(table, cols: list[str]) -> int:
    """``gen.row_hash`` summed over the rows, cells as strings."""
    columns = [
        [None if v is None else str(v) for v in table.column(c).to_pylist()] for c in cols
    ]
    return sum(gen.row_hash(row) for row in zip(*columns))


# ------------------------------------------------------------ etl_audit: EP1

def etl_batch(spark: SparkSession, inp: str, out: str, span=no_span) -> None:
    with span("pipeline.run"):
        ETLPipeline(spark, inp, run_date=RUN_DATE).run(layers=LAYERS, out_dir=out)


def etl_check(out: str, truth: dict, state: dict) -> list[str]:
    problems = []
    for layer in LAYERS:
        for entity in ("creditos", "radicados"):
            key = f"{layer}_{entity}"
            raw = key == "raw_creditos"
            cols = ["Monto", "tiempo_solicitud_giro", *gen.CREDITOS_DATES] if raw else []
            t = read(out, key, cols)
            want = truth[key]
            if t.num_rows != want["rows"]:
                problems.append(f"{key}: {t.num_rows} rows, want {want['rows']}")
            if not raw:
                continue
            # exact: whole cents per row, summed as integers
            monto = sum(round(x * 100) for x in t.column("Monto").to_pylist() if x is not None)
            if monto != want["monto_cents_sum"]:
                problems.append(f"{key}: sum(Monto) {monto} cents, want {want['monto_cents_sum']}")
            giro = sum(x for x in t.column("tiempo_solicitud_giro").to_pylist() if x is not None)
            if giro != want["tiempo_solicitud_giro_sum"]:
                problems.append(
                    f"{key}: sum(tiempo_solicitud_giro) {giro}, "
                    f"want {want['tiempo_solicitud_giro_sum']}"
                )
            for c, n in want["dates_nonnull"].items():
                got = t.num_rows - t.column(c).null_count
                if got != n:
                    problems.append(f"{key}: {got} non-null {c}, want {n}")
    return problems


# ------------------------------------------------------------ etl_audit: EP2

def audit_merge(spark: SparkSession, inp: str, out: str, span=no_span) -> None:
    """EP2 as ``pipeline.audit_and_merge`` calls it: the snapshot is the
    raw side, the published table the modeled side."""
    with span("audit.log"):
        published = spark.read.parquet(os.path.join(inp, "published.parquet"))
        snapshot = spark.read.parquet(os.path.join(inp, "snapshot.parquet"))
        log = audit_from_registry(
            snapshot, published, DICTIONARY, log_root="etl", run_id="bench", run_ts=RUN_TS
        )
        write_parquet(log, os.path.join(out, "log"))
        release_cache(log)
    with span("audit.merge"):
        merged = merge_snapshot(
            published,
            snapshot,
            id_col=DICTIONARY.primary_key(),
            target_cols=DICTIONARY.audit_cols(),
        )
        write_parquet(merged, os.path.join(out, "merged"))
        release_cache(merged)


def audit_check(out: str, truth: dict, state: dict) -> list[str]:
    problems = []
    log = read(out, "log", [gen.AUDIT_PK])
    h = table_hash(log, [gen.AUDIT_PK])
    if log.num_rows != truth["log_rows"] or str(h) != truth["log_id_hash"]:
        problems.append(
            f"log: {log.num_rows} rows / id hash {h}, "
            f"want {truth['log_rows']} / {truth['log_id_hash']}"
        )
    merged = read(out, "merged", gen.AUDIT_COLUMNS)
    if merged.num_rows != truth["snapshot_rows"]:
        problems.append(f"merged: {merged.num_rows} rows, want {truth['snapshot_rows']}")
    h = table_hash(merged, gen.AUDIT_COLUMNS)
    if str(h) != truth["merged_hash"]:
        problems.append(f"merged: row hash {h}, want {truth['merged_hash']}")
    return problems


def etl_audit(spark: SparkSession, inp: str, out: str, span=no_span) -> None:
    etl_batch(spark, os.path.join(inp, "etl"), os.path.join(out, "etl"), span)
    audit_merge(spark, os.path.join(inp, "audit"), os.path.join(out, "audit"), span)


def etl_audit_check(out: str, truth: dict, state: dict) -> list[str]:
    return etl_check(os.path.join(out, "etl"), truth["etl"], state) + audit_check(
        os.path.join(out, "audit"), truth["audit"], state
    )


# -------------------------------------------------------------- corpus_dedup

def corpus_dedup(spark: SparkSession, inp: str, out: str, span=no_span) -> None:
    """Pairs are written, their cache released, and the clusters built
    from the written pairs, so the pair work runs once per batch. Not
    releasing would let the next batch hit this batch's cache. Every
    operator result is released after it is written, as ``caching``
    asks (a no-op for results without a cache scope)."""
    with span("dedup.pairs"):
        docs = spark.read.parquet(os.path.join(inp, "dedup", "docs.parquet"))
        pairs = minhash_lsh_pairs(docs, "doc_id", "text", **DEDUP_ARGS)
        write_parquet(pairs, os.path.join(out, "pairs"))
        release_cache(pairs)
    with span("dedup.clusters"):
        clusters = dup_clusters(spark.read.parquet(os.path.join(out, "pairs")))
        write_parquet(clusters, os.path.join(out, "clusters"))
        release_cache(clusters)


def _components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """id → min id of its connected component (union-find)."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def dedup_check(out: str, truth: dict, state: dict) -> list[str]:
    """Every pair's Jaccard recomputed in Python from the generated
    text; the pair set identical across batches; every planted exact
    duplicate found; clusters equal the pair graph's components."""
    problems = []
    rows = read(out, "pairs", ["id_a", "id_b", "jaccard"]).to_pylist()
    texts = state["texts"]
    cache = state.setdefault("shingles", {})

    def sh(i):
        if i not in cache:
            cache[i] = gen.shingles(texts[i], DEDUP_ARGS["n"])
        return cache[i]

    pairs = set()
    for r in rows:
        a, b = r["id_a"], r["id_b"]
        pairs.add((a, b))
        want = gen.jaccard(sh(a), sh(b))
        if not a < b or abs(r["jaccard"] - want) > 5e-5 or want < DEDUP_ARGS["threshold"]:
            problems.append(f"pair ({a},{b}): jaccard {r['jaccard']}, want {want}")
            break
    missing = [p for p in map(tuple, truth["dedup"]["exact_dup_pairs"]) if p not in pairs]
    if missing:
        problems.append(f"{len(missing)} planted exact duplicates not paired, e.g. {missing[0]}")
    first = state.setdefault("pairs", pairs)
    if pairs != first:
        problems.append(f"pair set changed between batches: {len(pairs)} vs {len(first)}")
    clusters = {r["id"]: r["cluster_id"] for r in read(out, "clusters", ["id", "cluster_id"]).to_pylist()}
    if clusters != _components(sorted(pairs)):
        problems.append("clusters differ from the pair graph's connected components")
    return problems


def load_texts(inp: str) -> list[str]:
    return pq.read_table(os.path.join(inp, "dedup", "docs.parquet")).column("text").to_pylist()


#: name → (batch, check)
WORKLOADS = {
    "etl_audit": (etl_audit, etl_audit_check),
    "corpus_dedup": (corpus_dedup, dedup_check),
}
