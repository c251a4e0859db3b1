"""Measured recall of the approximate ANN paths vs exact brute force.

"Measure, don't guess": the LSH and IVF variants trade recall for
scan fraction — this tool quantifies the trade on the real embeddings
table so the dials (num_planes, nlist, nprobe) are chosen from data,
not vibes. Usage:

    PYTHONPATH=. python tools/ann_recall.py [sf_dir]

Prints one JSON line per configuration:
    {"method": ..., "k": ..., "recall_at_k": ..., "n_queries": ...}

recall@k = |approx top-k ∩ exact top-k| / k, averaged over queries.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])


def main() -> int:
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from fbs_data_pipelines_spark import get_spark
    from fbs_data_pipelines_spark.operators.similarity import (
        ann_ivf_topk,
        ann_lsh_topk,
        ann_topk_bruteforce,
    )

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="ann-recall", master="local[8]",
                      shuffle_partitions=8)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = (
        emb.filter(F.col("vec_id") % 50 == 0)
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding"))
    )
    k = 10

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    exact = topk_sets(
        ann_topk_bruteforce(emb, queries, k=k)
    )

    def recall(approx):
        vals = [
            len(approx.get(q, set()) & hits) / float(k)
            for q, hits in exact.items()
        ]
        return sum(vals) / len(vals) if vals else 0.0

    results = []
    for planes in (4, 6, 8):
        for flips in (0, 1):
            r = recall(
                topk_sets(
                    ann_lsh_topk(emb, queries, k=k, num_planes=planes,
                                 probe_flips=flips)
                )
            )
            results.append(
                {"method": f"lsh_planes={planes}_flips={flips}", "k": k,
                 "recall_at_k": round(r, 4), "n_queries": len(exact)}
            )
    for nlist, nprobe in ((8, 1), (8, 2), (8, 4), (8, 8)):
        r = recall(
            topk_sets(
                ann_ivf_topk(emb, queries, k=k,
                             num_centroids=nlist, nprobe=nprobe)
            )
        )
        results.append(
            {"method": f"ivf_nlist={nlist}_nprobe={nprobe}", "k": k,
             "recall_at_k": round(r, 4), "n_queries": len(exact)}
        )
    # quantized paths (r9): rank on compressed representations,
    # exact-rerank the candidate cut — recall is the rerank dial
    from fbs_data_pipelines_spark.operators.similarity import (
        ann_topk_ivfpq,
        ann_topk_pq,
        ann_topk_sq8,
    )

    for rr in (2 * k, 10 * k):
        r = recall(topk_sets(ann_topk_sq8(emb, queries, k=k, rerank=rr)))
        results.append(
            {"method": f"sq8_rerank={rr}", "k": k,
             "recall_at_k": round(r, 4), "n_queries": len(exact)}
        )
        for iters in (0, 1, 2):
            r = recall(
                topk_sets(
                    ann_topk_pq(emb, queries, k=k, rerank=rr,
                                num_codes=32, num_subspaces=8,
                                refine_iters=iters)
                )
            )
            results.append(
                {"method": f"pq32x8_rerank={rr}_refine={iters}", "k": k,
                 "recall_at_k": round(r, 4), "n_queries": len(exact)}
            )
    for nprobe in (2, 4, 8):
        for residual in (False, True):
            r = recall(
                topk_sets(
                    ann_topk_ivfpq(emb, queries, k=k, rerank=10 * k,
                                   nprobe=nprobe, num_codes=32,
                                   num_subspaces=8, residual=residual)
                )
            )
            tag = "res" if residual else "raw"
            results.append(
                {"method": f"ivfpq_nprobe={nprobe}_rerank={10 * k}_{tag}",
                 "k": k, "recall_at_k": round(r, 4),
                 "n_queries": len(exact)}
            )
    for row in results:
        print(json.dumps(row))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
