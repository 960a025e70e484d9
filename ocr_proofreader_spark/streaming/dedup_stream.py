"""Streaming exact deduplication over a documents stream.

``dropDuplicates`` on the content hash emits the first arrival per hash
and suppresses every later duplicate — the standard streaming-ingest
dedup stage of a training-data pipeline.  State is one entry per unique
hash.  On an unbounded stream a deployment bounds that state with
``dropDuplicatesWithinWatermark`` keyed on an ingest timestamp: state
then expires past the watermark delay, and only duplicates arriving
within the delay are guaranteed to be suppressed.  The documents table
carries no event time, so this operator keeps the unbounded form.

WHICH doc is emitted first per hash is arrival-order-dependent, so the
deterministic (and DuckDB-checkable) projection is the distinct hash set
itself — ``dedup_stream_hashes`` in ``__spark_entry__`` — while the
suppression behavior across micro-batches is pinned by
tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_proofreader_spark.streaming.stateful import (
    read_stream, run_to_scratch_parquet)


def dedup_stream_hashes(spark: SparkSession, input_path: str,
                        max_files_per_trigger: int | None = None
                        ) -> DataFrame:
    """Distinct content hashes of a streamed documents table: one output
    row per unique md5(text), whichever micro-batch its first copy
    arrived in."""
    stream = read_stream(spark, input_path,
                         spark.read.parquet(input_path).schema,
                         max_files_per_trigger)
    deduped = (stream
               .select(F.md5(F.col("text")).alias("content_hash"))
               .dropDuplicates(["content_hash"]))
    return run_to_scratch_parquet(deduped, spark, "dedup_stream_")
