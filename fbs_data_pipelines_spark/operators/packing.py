"""Sequence packing: fit documents into fixed token-capacity windows.

Pretraining batches waste compute on padding unless documents are
packed into context windows. The distributed shape used here:

1. hash-bucket the corpus (portable md5 bucket — the parallel unit;
   at 100 TB use enough buckets that a bucket's metadata fits a task);
2. within each bucket, assign documents to packs with the NEXT-FIT
   rule over a deterministic order (doc id): a running token sum that
   opens a new pack whenever the next document would overflow the
   capacity. Oversized documents (> capacity) get a pack of their own.

Next-fit is O(n) per bucket with O(1) state, deterministic, and —
unlike first-fit-decreasing — expressible in plain SQL (a recursive
running sum), so the DuckDB oracle can verify the assignment exactly.
The packing itself runs in ``applyInPandas`` per bucket: inherently
sequential within a bucket, parallel across buckets (state = two
scalars per group, never the corpus).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fbs_data_pipelines_spark.operators.sampling import sample_bucket

PACK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("pack_id", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
    ]
)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col,
    capacity: int,
    num_buckets: int = 8,
) -> DataFrame:
    """Assign each document to (bucket, pack_id) under ``capacity``.

    ``token_count_col`` is a column name or Column with the document's
    token count. Output: (doc_id, bucket, pack_id, n_tokens); pack_id
    is dense per bucket, 0-based, in doc-id order (deterministic).
    """
    tok = (
        F.col(token_count_col)
        if isinstance(token_count_col, str)
        else token_count_col
    )
    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (sample_bucket(id_col) % num_buckets).alias("bucket"),
        tok.cast("long").alias("n_tokens"),
    )

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pack_ids = []
        pack_id, used = 0, 0
        first = True
        for t in pdf["n_tokens"]:
            t = int(t)
            if not first and used + t > capacity:
                pack_id += 1
                used = 0
            pack_ids.append(pack_id)
            used += t
            first = False
        pdf["pack_id"] = pack_ids
        return pdf[["doc_id", "bucket", "pack_id", "n_tokens"]]

    return src.groupBy("bucket").applyInPandas(pack, schema=PACK_SCHEMA)


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token windows — the context-
    window chunking step of a training/RAG pipeline (packing's
    complement: packing concatenates short docs up to the window,
    chunking cuts long docs down to it).

    Returns (id, chunk_idx, chunk_text, n_tokens): stride =
    chunk_tokens − overlap, the last chunk keeps whatever remains
    (≤ chunk_tokens), and every document emits at least one chunk.
    Pure JVM expressions — tokenize once, explode a chunk-index
    sequence, slice the token array per chunk; the explode is narrow
    (no shuffle), so the operator streams at scan speed no matter the
    corpus size. Documents whose normalized text is empty produce no
    chunks (nothing to window).
    """
    from fbs_data_pipelines_spark.functions.text import (
        normalize_text,
        tokens,
    )

    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    base = (
        df.filter(normalize_text(F.col(text_col)) != "")
        .select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
        .withColumn("__n", F.size("__toks"))
        .withColumn(
            "__n_chunks",
            F.greatest(
                F.lit(1),
                F.ceil((F.col("__n") - F.lit(overlap)) / F.lit(float(stride))),
            ),
        )
    )
    chunk = F.slice(
        F.col("__toks"), (F.col("chunk_idx") * stride + 1).cast("int"), chunk_tokens
    )
    return (
        base.select(
            F.col(id_col),
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"), F.col("__n_chunks") - 1
                )
            ).alias("chunk_idx"),
            "__toks",
        )
        .select(
            F.col(id_col),
            "chunk_idx",
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).cast("long").alias("n_tokens"),
        )
    )
