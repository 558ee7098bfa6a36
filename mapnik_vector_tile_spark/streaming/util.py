"""Shared streaming-runner plumbing.

State-partition sizing: a Structured Streaming query creates one state
store per shuffle partition per stateful operator and commits every one
of them each micro-batch, so the per-batch FIXED cost scales with the
partition count even when the data is tiny.  Production sizes this to
executor parallelism × state volume; the in-sandbox oracle gates size
it to their few-chunk corpora.  The count is baked into the checkpoint
at first query start — pick it before launch (Spark refuses to change
it on resume)."""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

_KEY = "spark.sql.shuffle.partitions"


def start_query(
    spark: SparkSession, writer: DataStreamWriter, n: int | None
) -> StreamingQuery:
    """``writer.start()`` with spark.sql.shuffle.partitions pinned to
    ``n`` for the start() call only. The query clones the session at
    start, so its state partitioning is fixed by then; the previous
    value is back before this returns, so the caller's
    awaitTermination() and any concurrent query on the session see the
    session's own value. ``n=None`` starts the query unpinned."""
    if n is None:
        return writer.start()
    prev = spark.conf.get(_KEY)
    spark.conf.set(_KEY, str(int(n)))
    try:
        return writer.start()
    finally:
        spark.conf.set(_KEY, prev)
