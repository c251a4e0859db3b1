"""Attribute the sf1 DuckDB `dedup_minhash_lsh` baseline swing (r10
judge directive #4): 4.66 s (r9 driver) → 27.66 s (r10 driver) →
17.67 s (r11 controlled run) on IDENTICAL SQL and data.

Hypothesis under test: the baseline is measured in bench.py AFTER the
Spark sf1 pass, co-resident with a multi-GB JVM heap — DuckDB's
banded-minhash SQL builds a large hash-join intermediate at sf1, so
its wall-clock is a function of free memory at measurement time, not
of the engine or the query.

Modes:
  standalone  — fresh process, DuckDB only, no JVM: the query's true
                cost (run 3x, report all).
  coresident  — same timing taken while a Spark JVM is up and has
                materialized the sf1 dedup query (bench.py's exact
                co-residency), in this process.

Usage: PYTHONPATH=. python tools/duck_sf1_anomaly.py <mode>
Prints one JSON line.
"""

from __future__ import annotations

import json
import multiprocessing
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

SF1 = str(Path(REPO) / ".localdata" / "sf1")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_times(n: int = 3) -> list[float]:
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    con.execute(f"SET threads TO {multiprocessing.cpu_count()}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF1}/{t}.parquet')"
        )
    sql = entry.oracle_sql()["dedup_minhash_lsh"]
    out = []
    for _ in range(n):
        t0 = time.time()
        con.execute(sql).fetchall()
        out.append(round(time.time() - t0, 3))
    return out


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "standalone"
    res: dict = {"mode": mode}
    if mode == "coresident":
        from fbs_data_pipelines_spark.caching import release_cache
        from fbs_data_pipelines_spark.session import get_spark

        import __spark_entry__ as entry

        spark = get_spark(app_name="duck-anomaly-coresident")
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        df = entry.queries()["dedup_minhash_lsh"](spark, SF1)
        t0 = time.time()
        df.write.mode("overwrite").format("noop").save()
        res["spark_dedup_sf1_s"] = round(time.time() - t0, 3)
        release_cache(df)
        res["duck_runs_s"] = duck_times()
        spark.stop()
    else:
        res["duck_runs_s"] = duck_times()
    print(json.dumps(res))


if __name__ == "__main__":
    main()
