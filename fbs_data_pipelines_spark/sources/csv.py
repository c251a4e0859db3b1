"""Dialected, permissive CSV source (SURVEY §2.1 S1/S2).

The reference reads `;`-separated latin-1 CSVs with a junk leading
row, ragged lines, quoted multi-line fields, and duplicate headers
(/root/reference/src/gdrive_handler.py:220-260). Spark-first
re-expression:

- ``spark.read.csv`` in PERMISSIVE mode with multiLine quoting.
- ``skip_rows``: Spark's CSV reader has no skipLines. Two routes:
  ``read_dialected_csv`` peeks the header driver-side (O(1) first-KB
  read, like a parquet footer) and filters junk rows by VALUE —
  supports multiLine quoting; ``read_dialected_csv_positional`` drops
  the first N physical lines per file by POSITION, fully distributed
  and collision-proof, for arbitrary N at any input size.
- duplicate headers: Polars renames dupes ``name_duplicated_N`` and
  the pipeline drops them (P1). We reproduce that naming so the same
  drop policy applies.
"""

from __future__ import annotations

import codecs

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def dedup_headers(names: list[str]) -> list[str]:
    """Polars-style duplicate-header renaming: 2nd+ occurrence of a
    name becomes ``{name}_duplicated_{n}`` (n counts from 0)."""
    seen: dict[str, int] = {}
    out = []
    for n in names:
        if n in seen:
            out.append(f"{n}_duplicated_{seen[n]}")
            seen[n] += 1
        else:
            out.append(n)
            seen[n] = 0
    return out


def _peek_lines(path: str, encoding: str, n: int) -> list[str]:
    """Driver-side peek of the first n lines of the first matching
    file — an O(1) metadata read (like a parquet footer), not a scan.
    Handles local paths and globs; encoding-aware (latin-1 headers)."""
    import glob as _glob

    matches = sorted(_glob.glob(path)) or [path]
    target = matches[0]
    lines: list[str] = []
    with codecs.open(target, "r", encoding=encoding) as fh:
        for _ in range(n):
            line = fh.readline()
            if not line:
                break
            lines.append(line.rstrip("\r\n"))
    return lines


def _peek_header(
    spark: SparkSession, path: str, sep: str, encoding: str, skip_rows: int
) -> list[str]:
    """Read just the header line (after skip_rows junk lines)."""
    lines = _peek_lines(path, encoding, skip_rows + 1)
    header_line = lines[skip_rows]
    return [c.strip() for c in header_line.split(sep)]


def read_dialected_csv(
    spark: SparkSession,
    path: str,
    sep: str = ";",
    encoding: str = "ISO-8859-1",
    skip_rows: int = 0,
    multi_line: bool = True,
) -> DataFrame:
    """Permissive dialected CSV scan with junk-row skip and
    Polars-compatible duplicate-header handling.

    All columns land as StringType (the reference's regime: permissive
    ingest, types imposed downstream by the cast layer / dictionary).
    """
    raw_header = _peek_header(spark, path, sep, encoding, skip_rows)
    names = dedup_headers(raw_header)
    schema = T.StructType([T.StructField(n, T.StringType()) for n in names])

    reader = (
        spark.read.schema(schema)
        .option("sep", sep)
        .option("encoding", encoding)
        .option("header", "false")
        .option("mode", "PERMISSIVE")
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", "true" if multi_line else "false")
    )
    df = reader.csv(path)
    # drop the junk row(s) + the header row itself: they parse as data
    # rows whose first column equals the raw header's first cell or the
    # junk content. Cheap narrow filter; exact because the header line
    # is a known literal.
    first_col = names[0]
    header_first_cell = raw_header[0]
    df = df.filter(
        (df[first_col].isNull()) | (df[first_col] != header_first_cell)
    )
    if skip_rows > 0:
        junk_cells = _peek_junk_cells(spark, path, sep, skip_rows)
        for cell in junk_cells:
            df = df.filter(
                (df[first_col].isNull()) | (df[first_col] != cell)
            )
    return df


def _peek_junk_cells(
    spark: SparkSession, path: str, sep: str, skip_rows: int,
    encoding: str = "ISO-8859-1",
) -> list[str]:
    lines = _peek_lines(path, encoding, skip_rows)
    return [ln.split(sep)[0].strip() for ln in lines if ln]


def read_dialected_csv_positional(
    spark: SparkSession,
    path: str,
    sep: str = ";",
    encoding: str = "ISO-8859-1",
    skip_rows: int = 0,
) -> DataFrame:
    """Distributed, positionally-EXACT ``skip_rows=N`` CSV scan.

    ``read_dialected_csv`` drops junk prologue rows by VALUE (filter
    on the junk line's first cell) — exact only while no data row's
    first cell collides with a junk cell. This variant drops them by
    POSITION, fully distributed, for the multi-GB case the reference's
    ≲10 MB contract (gdrive_handler.py:236-239) never hits:

    1. scan each physical line as one row (CSV reader with an unused
       separator and quoting disabled — honors ``encoding``, stays
       splittable);
    2. per-file line positions: ``monotonically_increasing_id`` is
       sequential within a partition and file lines are contiguous in
       their partition, so position = id - min(id) over the rows of
       the file's FIRST split (``_metadata.file_block_start == 0`` —
       junk lines can only live there). The min-per-file aggregate is
       one row per file, broadcast back: no shuffle of the data;
    3. drop positions ≤ N (junk + header), parse the rest with
       ``F.from_csv`` using the real dialect.

    Limitation: physical-line semantics — quoted fields spanning
    newlines need ``read_dialected_csv(multi_line=True)`` (which Spark
    necessarily reads one-file-per-task anyway, so the driver-side
    peek there costs nothing extra at scale).
    """
    from pyspark.sql import functions as F

    raw_header = _peek_header(spark, path, sep, encoding, skip_rows)
    names = dedup_headers(raw_header)

    lines = (
        spark.read.schema("value string")
        .option("sep", "\u0001")  # separator that never occurs in text
        .option("quote", "\u0000")  # raw physical lines, no quote folding
        .option("encoding", encoding)
        .option("header", "false")
        .option("mode", "PERMISSIVE")
        .csv(path)
        .select(
            "value",
            F.col("_metadata.file_path").alias("__f"),
            F.col("_metadata.file_block_start").alias("__bs"),
        )
        .withColumn("__id", F.monotonically_increasing_id())
    )
    heads = (
        lines.filter(F.col("__bs") == 0)
        .groupBy("__f")
        .agg(F.min("__id").alias("__base"))
    )
    pos = F.col("__id") - F.col("__base")
    kept = (
        lines.join(F.broadcast(heads), "__f")
        .filter((F.col("__bs") > 0) | (pos > skip_rows))
    )
    ddl = ", ".join(f"`{n}` STRING" for n in names)
    parsed = kept.select(
        F.from_csv(
            "value",
            ddl,
            {"sep": sep, "quote": '"', "escape": '"', "mode": "PERMISSIVE"},
        ).alias("__row")
    )
    return parsed.select(*[F.col(f"__row.{n}").alias(n) for n in names])
