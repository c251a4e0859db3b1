"""Materialize an sf1-scale copy of the bench tables (10x sf0.1).

The r7/r8 judges asked for a sequential-ratio probe at sf1 to falsify
(or confirm) the claim that the >2x sequential Spark-vs-DuckDB ratio
at sf0.1 is fixed per-query JVM overhead that amortizes with data
size. /root/testdata is read-only and driver-owned, so the sf1 data
is DERIVED locally: each sf0.1 table is replicated 10x with key
offsets that preserve join cardinalities exactly (every replica is a
self-contained copy of the star schema — offset foreign keys point at
the same replica's dimension copy).

Two tables need more than key offsets, or 10x replication would
CHANGE the workload instead of scaling it:

- ``documents``: replica i>0 suffixes every word with the replica id,
  so replicas are shingle-disjoint (no cross-replica near-dup pairs)
  while WITHIN-replica near-dup structure — the planted minhash pairs
  — is preserved verbatim. Candidate-pair count therefore scales
  linearly (10x), which is what "the same workload, bigger" means for
  dedup_minhash_lsh; verbatim replication would instead make every
  doc a 10-way exact duplicate (a different, degenerate workload).
- ``embeddings``: replica i>0 perturbs each element by
  ``0.05*sin(997*i*x)`` — deterministic, element- and replica-
  dependent, NOT a scalar multiple (a scalar rescale is invisible to
  cosine), so top-k neighborhoods stay non-degenerate.

``region``/``nation`` are copied unchanged (fixed-cardinality dims,
as in TPC-H).

Deterministic: same input -> same bytes. Output is single parquet
files (DuckDB ``COPY``), matching the bench harness's
``read_parquet('{dir}/{t}.parquet')`` contract on both engines.

Usage:
    python tools/make_sf1.py [--src /root/testdata/sf0.1] \
        [--dst <repo>/.localdata/sf1] [--replicas 10]
"""

from __future__ import annotations

import argparse
import os
from pathlib import Path

#: default output dir: ``.localdata/sf1`` in this checkout
DEFAULT_DST = str(Path(__file__).resolve().parents[1] / ".localdata" / "sf1")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

#: tables copied unchanged (fixed-cardinality dimensions)
UNSCALED = {"region", "nation"}


def _offsets(con, src: str) -> dict[str, int]:
    """Per-key offset = max(key)+1 of the source table, so replica i's
    keys are disjoint from replica j's for every i != j."""
    keys = {
        "c": ("customer", "c_custkey"),
        "o": ("orders", "o_orderkey"),
        "p": ("part", "p_partkey"),
        "s": ("supplier", "s_suppkey"),
        "e": ("events", "event_id"),
        "u": ("events", "user_id"),
        "d": ("documents", "doc_id"),
        "v": ("embeddings", "vec_id"),
    }
    out = {}
    for k, (table, col) in keys.items():
        out[k] = con.execute(
            f"SELECT max({col}) + 1 FROM "
            f"read_parquet('{src}/{table}.parquet')"
        ).fetchone()[0]
    return out


def _selects(off: dict[str, int]) -> dict[str, str]:
    """Per-table replica-i SELECT body (i ranges over the replica
    cross join; i=0 is the verbatim source)."""
    c, o, p, s = off["c"], off["o"], off["p"], off["s"]
    e, u, d, v = off["e"], off["u"], off["d"], off["v"]
    return {
        "customer": f"""
            c_custkey + i*{c} AS c_custkey, c_name, c_nationkey,
            c_acctbal, c_mktsegment""",
        "supplier": f"""
            s_suppkey + i*{s} AS s_suppkey, s_name, s_nationkey,
            s_acctbal""",
        "part": f"""
            p_partkey + i*{p} AS p_partkey, p_name, p_brand, p_type,
            p_size, p_retailprice""",
        "orders": f"""
            o_orderkey + i*{o} AS o_orderkey,
            o_custkey + i*{c} AS o_custkey,
            o_orderstatus, o_totalprice, o_orderdate, o_orderpriority""",
        "lineitem": f"""
            l_orderkey + i*{o} AS l_orderkey,
            l_partkey + i*{p} AS l_partkey,
            l_suppkey + i*{s} AS l_suppkey,
            l_linenumber, l_quantity, l_extendedprice, l_discount,
            l_tax, l_returnflag, l_linestatus, l_shipdate""",
        "events": f"""
            event_id + i*{e} AS event_id, ts,
            user_id + i*{u} AS user_id, event_type, value, props""",
        "documents": f"""
            doc_id + i*{d} AS doc_id,
            CASE WHEN i = 0 THEN text
                 ELSE regexp_replace(text, '([A-Za-z]+)',
                                     '\\1' || CAST(i AS VARCHAR), 'g')
            END AS text,
            lang, source,
            CASE WHEN i = 0 THEN n_chars
                 ELSE CAST(length(regexp_replace(text, '([A-Za-z]+)',
                     '\\1' || CAST(i AS VARCHAR), 'g')) AS BIGINT)
            END AS n_chars""",
        "embeddings": f"""
            vec_id + i*{v} AS vec_id,
            CASE WHEN i = 0 THEN embedding
                 ELSE list_transform(embedding,
                     x -> CAST(x + 0.05*sin(997.0*i*x) AS FLOAT))
            END AS embedding,
            label""",
    }


def make_sf1(
    src: str = "/root/testdata/sf0.1",
    dst: str = DEFAULT_DST,
    replicas: int = 10,
) -> str:
    """Build (or reuse) the derived sf1 directory; returns ``dst``.
    Idempotent: a ``_complete`` marker naming src+replicas short-
    circuits regeneration, so the bench probe pays the build once."""
    import duckdb

    marker = os.path.join(dst, "_complete")
    stamp = f"{src} x{replicas}"
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == stamp:
                return dst
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    sel = _selects(_offsets(con, src))
    for t in TABLES:
        out = os.path.join(dst, f"{t}.parquet")
        if t in UNSCALED:
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet')) "
                f"TO '{out}' (FORMAT PARQUET)"
            )
            continue
        con.execute(
            f"COPY (SELECT {sel[t]} "
            f"FROM read_parquet('{src}/{t}.parquet') "
            f"CROSS JOIN range({replicas}) r(i)) "
            f"TO '{out}' (FORMAT PARQUET)"
        )
    with open(marker, "w") as fh:
        fh.write(stamp)
    return dst


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", default=DEFAULT_DST)
    ap.add_argument("--replicas", type=int, default=10)
    args = ap.parse_args()
    out = make_sf1(args.src, args.dst, args.replicas)
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{out}/{t}.parquet')"
        ).fetchone()[0]
        print(f"{t}: {n}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
