"""Multimodal (image/audio/video) column plumbing.

Design: media lives as an opaque ``binary`` column plus a typed
metadata struct; feature extraction runs as an Arrow-batched pandas
function over ``mapInPandas`` so each task handles a batch at a time
without ever materializing the corpus on the driver.

The decode is a deterministic sha256-derived stub: it keeps the whole
pipeline oracle-checkable (DuckDB reproduces every output column from
the digest). A production deployment plugs PIL/ffmpeg into the
kernel; schema, partitioning, UDF signature and batch shape are
identical.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: schema of the metadata struct carried next to every media column
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("format", T.StringType()),      # png|jpeg|wav|mp4|...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_sha", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def attach_media_meta(
    df: DataFrame, binary_col: str, media_type: str, fmt: str
) -> DataFrame:
    """Add the typed metadata struct for an opaque binary column.

    Width/height stay null until decode; n_bytes is computed JVM-side.
    """
    meta = F.struct(
        F.lit(media_type).alias("media_type"),
        F.lit(fmt).alias("format"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.length(F.col(binary_col)).cast("long").alias("n_bytes"),
    )
    return df.withColumn(f"{binary_col}_meta", meta)


def extract_image_features(
    df: DataFrame,
    id_col: str = "doc_id",
    binary_col: str = "content",
) -> DataFrame:
    """Batch feature extraction over ``mapInPandas``: per payload its
    byte count, sha256 hex digest and the sha256-derived stub decode
    (width, height, mean_luma) taken from the digest's leading bytes.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # columnar batch construction: the per-payload work is
            # inherently row-wise (hashing), but each output column
            # is built as a plain list over the arrays (no iterrows —
            # pandas row materialization is ~10× slower)
            payloads = [bytes(p) for p in pdf[binary_col]]
            digests = [hashlib.sha256(p).digest() for p in payloads]
            dims = [
                (16 + d[0] % 64, 16 + d[1] % 64, round(d[2] / 255.0, 6))
                for d in digests
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].to_numpy(),
                    "n_bytes": [len(p) for p in payloads],
                    "content_sha": [d.hex() for d in digests],
                    "width": [w for w, _, _ in dims],
                    "height": [h for _, h, _ in dims],
                    "mean_luma": [v for _, _, v in dims],
                },
                columns=[f.name for f in FEATURE_SCHEMA.fields],
            )

    return df.select(id_col, binary_col).mapInPandas(kernel, schema=FEATURE_SCHEMA)
