"""Structured Streaming extensions (SURVEY §2.10: the reference is
batch-only; its snapshot-diff incremental pattern maps to
foreachBatch merge). State lives either in Spark's built-in
watermarked aggregations or in a VersionedTable written from
foreachBatch; there are no custom typed-state operators."""
