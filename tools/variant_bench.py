"""Measure, don't guess: time result-identical operator variants.

Each pair is (baseline form, scale-hardened form) of the same result.
Small-SF timings do NOT prove the 100 TB claim (skew only bites at
scale) — what they prove is that the hardened form costs nothing
when the data is benign, so making it the default is free. The skew
claims themselves are covered by plan tests (window keys, broadcast
shapes) in tests/.

Usage: PYTHONPATH=. python tools/variant_bench.py [sf_dir]
Prints one JSON line per pair: {pair, baseline_s, hardened_s, rows}.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from fbs_data_pipelines_spark.caching import release_cache  # noqa: E402
from fbs_data_pipelines_spark.session import get_spark  # noqa: E402


def _time(df) -> float:
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        df.write.mode("overwrite").format("noop").save()
        best = min(best, time.time() - t0)
    release_cache(df)
    return round(best, 3)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="variant-bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    import __spark_entry__ as entry

    e = entry._t(spark, sf_dir, "events")
    d = entry._t(spark, sf_dir, "documents")

    out = []

    # 1) latest row per user: row_number window vs two-phase max_by
    from fbs_data_pipelines_spark.operators.joins import (
        grouped_topk,
        latest_snapshot,
        latest_snapshot_agg,
    )

    w_form = latest_snapshot(e, ["user_id"], "event_id")
    a_form = latest_snapshot_agg(e, ["user_id"], "event_id")
    out.append(
        {
            "pair": "latest_per_key: window vs max_by-agg",
            "baseline_s": _time(w_form),
            "hardened_s": _time(a_form),
            "rows": a_form.count(),
        }
    )

    # 2) top-3 per event_type by value: single window vs salted 2-phase
    order = [F.col("value").desc(), F.col("event_id").asc()]
    w = Window.partitionBy("event_type").orderBy(*order)
    single = (
        e.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
    )
    two_phase = grouped_topk(
        e, ["event_type"], order, k=3, salt_col="event_id"
    )
    out.append(
        {
            "pair": "grouped top-3 (5 Zipfian keys): window vs salted 2-phase",
            "baseline_s": _time(single),
            "hardened_s": _time(two_phase),
            "rows": two_phase.count(),
        }
    )

    # 3) per-lang terciles: ntile window vs percentile-cutoff broadcast
    from fbs_data_pipelines_spark.operators.lm import ppl_quantile_buckets

    scored = d.select(
        "doc_id", "lang", (F.col("n_chars").cast("double")).alias("log_ppl")
    )
    wn = Window.partitionBy("lang").orderBy("log_ppl", "doc_id")
    ntile_form = scored.withColumn("bucket", F.ntile(3).over(wn).cast("long"))
    cutoff_form = ppl_quantile_buckets(scored, "lang", "log_ppl", 3)
    out.append(
        {
            "pair": "per-group terciles: ntile window vs percentile cutoffs",
            "baseline_s": _time(ntile_form),
            "hardened_s": _time(cutoff_form),
            "rows": cutoff_form.count(),
        }
    )

    # 4) doc frequency for tf-idf: token window vs groupBy+broadcast-join
    from fbs_data_pipelines_spark.functions.text import tokens

    tok = d.select(
        F.col("doc_id"), F.explode(tokens("text")).alias("tok")
    ).filter(F.col("tok") != "")
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    wt = Window.partitionBy("tok")
    window_df = tf.withColumn("df", F.count("*").over(wt))
    agg_df = tf.join(
        F.broadcast(tf.groupBy("tok").agg(F.count("*").alias("df"))), "tok"
    )
    out.append(
        {
            "pair": "tf-idf doc-freq: token window vs agg+broadcast join",
            "baseline_s": _time(window_df),
            "hardened_s": _time(agg_df),
            "rows": agg_df.count(),
        }
    )

    for row in out:
        print(json.dumps(row))


if __name__ == "__main__":
    main()
