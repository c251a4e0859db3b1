"""Measured accuracy of the probabilistic sketches vs exact answers.

"Measure, don't guess" (template: tools/ann_recall.py): the HLL and
count-min operators publish theoretical bounds — HLL standard error
1.04/√m (sketches.py:expected_rel_error), CMS overcount ≤ e·N/w with
probability 1−e^(−d) and never-undercount. This tool measures both on
the real testdata tables so the bounds are evidence, not citations.

Usage:
    PYTHONPATH=. python tools/sketch_accuracy.py [sf_dir]

Prints one JSON line per check:
  {"sketch": "hll", "column": ..., "exact": N, "approx": N,
   "rel_error": ..., "expected_rel_error": ..., "within_3_sigma": ...}
  {"sketch": "cms", "keys": K, "undercounts": 0, "max_overcount": ...,
   "bound_e_n_over_w": ..., "within_bound_frac": ...}
"""

from __future__ import annotations

import json
import math
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])


def main() -> int:
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from fbs_data_pipelines_spark import get_spark
    from fbs_data_pipelines_spark.operators import sketches as S

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="sketch-accuracy", master="local[8]",
                      shuffle_partitions=8)

    results = []

    # ---- HLL: grouped + global distinct counts on several columns ----
    hll_cases = [
        ("orders", "o_custkey"),
        ("lineitem", "l_partkey"),
        ("events", "user_id"),
    ]
    exp = S.expected_rel_error()
    for table, col in hll_cases:
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        exact = df.select(F.countDistinct(col)).collect()[0][0]
        approx = S.approx_distinct(df, [], col).collect()[0]["approx_distinct"]
        rel = abs(approx - exact) / exact if exact else 0.0
        results.append({
            "sketch": "hll",
            "table": table,
            "column": col,
            "exact": exact,
            "approx": round(approx, 1),
            "rel_error": round(rel, 5),
            "expected_rel_error": round(exp, 5),
            "within_3_sigma": rel <= 3 * exp,
        })

    # ---- CMS: frequency estimates for every distinct key ------------
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    col = "o_orderpriority"
    state = S.cms_state(df, col)
    n_total = df.filter(F.col(col).isNotNull()).count()
    exact_counts = {
        r[col]: r["cnt"]
        for r in df.groupBy(col).agg(F.count("*").alias("cnt")).collect()
        if r[col] is not None
    }
    keys = df.select(col).distinct().filter(F.col(col).isNotNull())
    est = {
        r[col]: r["approx_count"]
        for r in S.cms_lookup(state, keys, col).collect()
    }
    w = getattr(S, "_CMS_W", None) or getattr(S, "CMS_W", None)
    if w is None:
        # derive from the state table: counters per row
        w = state.select("col_idx").distinct().count() if "col_idx" in state.columns else None
    overcounts = {k: est[k] - exact_counts[k] for k in exact_counts}
    undercounts = sum(1 for v in overcounts.values() if v < 0)
    bound = math.e * n_total / w if w else None
    within = (
        sum(1 for v in overcounts.values() if bound is None or v <= bound)
        / max(len(overcounts), 1)
    )
    results.append({
        "sketch": "cms",
        "table": "orders",
        "column": col,
        "keys": len(exact_counts),
        "n_total": n_total,
        "undercounts": undercounts,
        "max_overcount": max(overcounts.values()),
        "bound_e_n_over_w": round(bound, 1) if bound else None,
        "within_bound_frac": round(within, 4),
    })

    # ---- bottom-k quantile sketch: measured rank error ----------------
    import bisect

    df = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.lit("all").alias("g"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    k = 512
    qs = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    est = {
        r["q"]: r["approx_value"]
        for r in S.approx_quantiles(df, ["g"], "v", qs, k=k).collect()
    }
    vals = sorted(r["v"] for r in df.collect())
    n = len(vals)
    worst = 0.0
    checks = []
    for q in qs:
        rank = bisect.bisect_left(vals, est[q]) / (n - 1)
        sigma = math.sqrt(q * (1 - q) / k)
        worst = max(worst, abs(rank - q) / sigma if sigma else 0.0)
        checks.append(abs(rank - q) <= 3 * sigma)
    results.append({
        "sketch": "qsketch",
        "table": "orders",
        "column": "o_totalprice(cents)",
        "k": k,
        "quantiles": qs,
        "worst_rank_error_sigmas": round(worst, 2),
        "within_3_sigma": all(checks),
    })

    for r in results:
        print(json.dumps(r))
    ok = all(
        r.get("within_3_sigma", True) for r in results
    ) and all(r.get("undercounts", 0) == 0 for r in results)
    print(json.dumps({"all_checks_pass": ok}))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
