"""Driver-gate dress rehearsal — canonicalize through PANDAS, the
driver's actual mechanism.

`tools/check_oracle.py` compares sorted Python tuples; the driver
canonicalizes result frames with pandas ``sort_values`` and hashes.
Rounds 9 and 10 each shipped a window query that passed the tuple
compare and died in pandas (tz-aware timestamps; list cells). The
COMPLEX-EDGE refusal closes the known class — this tool closes the
UNKNOWN ones by running the exact driver mechanism: for every gate
query (vanilla default-config session, sf0.01),

  1. Spark result → ``toPandas()``; oracle → DuckDB ``.df()``;
  2. both frames: columns sorted by name, ``sort_values`` over all
     columns (the step that crashed r9/r10-class bugs), index reset;
  3. shape equality + ``pandas.testing.assert_frame_equal`` with
     ``check_dtype=False`` (the driver canonicalizes integer widths —
     `sql_qualify`/`udtf_sentences` were gate-green with int32/int64
     edges) and ``check_exact=True`` for float columns (oracle
     arithmetic is single-rounded and must be bit-equal);
  4. dtype-KIND parity per column (r11 directive #2a: the r11
     `variant_json` red row was Spark int64 vs DuckDB HUGEINT→float64
     — values equal under ``check_dtype=False``, hash-fatal at the
     driver). Integer widths/signedness are interchangeable (r10
     driver evidence); int↔float, int↔object, and float↔object are
     REFUSED. Other kind pairs (e.g. datetime-vs-object date cells)
     are representation details pandas canonicalizes and the driver
     has repeatedly hash-matched — not refused.

Usage:
    PYTHONPATH=. python tools/driver_dryrun.py [n_window]
``n_window`` ≤ 0 (or omitted via final_gate) rehearses the FULL
registry — the standing final-gate mode since r13 (judge directive
#3: the full rehearsal is the best predictor of driver-red rows and
protects the next round's rotation too).
Prints one line per query and a summary; exit 1 on any failure.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

REPO = str(Path(__file__).resolve().parents[1])

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    out = df[cols]
    if len(out):
        out = out.sort_values(by=cols)  # the driver's crash point
    return out.reset_index(drop=True)


#: unordered kind pairs the driver's type-exact hash refuses
#: (int↔float is the r11 variant_json red row)
_REFUSED_KIND_PAIRS = {
    frozenset({"i", "f"}),
    frozenset({"u", "f"}),
    frozenset({"i", "O"}),
    frozenset({"u", "O"}),
    frozenset({"f", "O"}),
}


def kind_refusals(spdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    """Per-column dtype-KIND parity: return the refused columns.

    Integer widths AND signedness are interchangeable ('i'/'u' — r10
    driver evidence: int32 edges hash-matched). int-vs-float,
    int-vs-object, float-vs-object are fatal (r11 red row class)."""
    bad = []
    for c in spdf.columns:
        if c not in ddf.columns:
            continue
        sk, dk = spdf[c].dtype.kind, ddf[c].dtype.kind
        if sk == dk or {sk, dk} <= {"i", "u"}:
            continue
        if frozenset({sk, dk}) in _REFUSED_KIND_PAIRS:
            bad.append(f"{c}: spark kind '{sk}' vs oracle kind '{dk}'")
    return bad


def main() -> int:
    sys.path.insert(0, REPO)
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-dryrun")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    names = list(queries) if n <= 0 else list(queries)[:n]
    print(f"rehearsing {len(names)}/{len(queries)} registry queries")
    for name in names:
        t0 = time.time()
        try:
            spdf = canon(queries[name](spark, SF_DIR).toPandas())
            ddf = canon(con.execute(oracles[name]).df())
        except Exception as exc:
            failures.append(name)
            print(f"  {name}: CANON-FAIL {type(exc).__name__}: {exc}"[:300])
            continue
        try:
            if spdf.shape != ddf.shape:
                raise AssertionError(
                    f"shape spark={spdf.shape} duck={ddf.shape}"
                )
            pd.testing.assert_frame_equal(
                spdf, ddf, check_dtype=False, check_exact=True,
                check_names=True,
            )
            refused = kind_refusals(spdf, ddf)
            if refused:
                raise AssertionError(f"KIND-FAIL {refused}")
        except AssertionError as exc:
            failures.append(name)
            print(f"  {name}: VALUE-FAIL {exc}"[:300])
            continue
        print(f"  {name}: OK rows={len(spdf)} ({time.time()-t0:.1f}s)")
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
