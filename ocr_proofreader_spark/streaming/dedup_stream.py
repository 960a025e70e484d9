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
suppression behavior across micro-batches and restarts is pinned by
tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_proofreader_spark.streaming.stateful import (
    as_stream_dir, run_to_scratch_parquet)


def dedup_stream_hashes(spark: SparkSession, input_path: str,
                        max_files_per_trigger: int | None = None,
                        output_dir: str | None = None,
                        checkpoint_dir: str | None = None) -> DataFrame:
    """Distinct content hashes of a streamed documents table: one output
    row per unique md5(text), whichever micro-batch its first copy
    arrived in."""
    if output_dir is not None and checkpoint_dir is None:
        raise ValueError("output_dir requires checkpoint_dir (the "
                         "watermark/dedup state must persist with the "
                         "sink to survive restarts)")
    schema = spark.read.parquet(input_path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    stream = reader.parquet(as_stream_dir(input_path))
    deduped = (stream
               .select(F.md5(F.col("text")).alias("content_hash"))
               .dropDuplicates(["content_hash"]))
    if output_dir is not None:
        q = (deduped.writeStream
             .format("parquet")
             .option("path", output_dir)
             .option("checkpointLocation", checkpoint_dir)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        return spark.read.parquet(output_dir)
    return run_to_scratch_parquet(deduped, spark, "dedup_stream_")
