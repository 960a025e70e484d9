"""Watermarked windowed aggregation, sessionization and joins over the
event stream.

Tumbling event-time windows with a watermark: in append mode a window
row is emitted only once the watermark (max event time seen minus the
allowed lateness) passes the window end, and events arriving later than
the watermark are dropped — the standard late-data contract.  State is
O(open windows x event types), bounded by the watermark horizon, so the
operator holds constant state on an unbounded stream.

Over a finite input processed with Trigger.AvailableNow the emitted set
is exactly 'windows whose end <= max(ts) - delay' with no late drops
(single batch sees everything in order), which is SQL-expressible — the
DuckDB twin lives in ``__spark_entry__``.  The late-drop behavior needs
a restart against a checkpointed sink and is pinned by
tests/test_streaming.py.  Every stream here is read by
``stateful.read_stream`` and drained by
``stateful.run_to_scratch_parquet``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_proofreader_spark.operators.relational import SESSION_GAP_MINUTES
from ocr_proofreader_spark.streaming.stateful import (
    EVENTS_SCHEMA, read_stream, run_to_scratch_parquet)

# allowed lateness of every watermarked operator here
WATERMARK_DELAY = "30 minutes"


def windowed_counts_stream(spark: SparkSession, input_path: str,
                           output_dir: str | None = None,
                           checkpoint_dir: str | None = None) -> DataFrame:
    """Per-(1-hour window, event_type) counts and value sums for every
    window the watermark has closed.

    With ``output_dir``/``checkpoint_dir`` the query appends to a
    parquet sink and the watermark persists across runs — a late file
    ingested by a RESTARTED query is filtered against the restored
    watermark (the production late-data path; within one AvailableNow
    run the late-record filter uses the trigger's starting watermark,
    so cross-run restarts are where the drop is observable)."""
    stream = read_stream(spark, input_path, EVENTS_SCHEMA)
    agg = (stream
           .withWatermark("ts", WATERMARK_DELAY)
           .groupBy(F.window("ts", "60 minutes"), "event_type")
           .agg(F.count("*").alias("n_events"),
                F.round(F.sum("value"), 3).alias("total_value"))
           .select(F.unix_timestamp("window.start").alias("window_start"),
                   "event_type", "n_events", "total_value"))
    return run_to_scratch_parquet(agg, spark, "windowed_counts_",
                                  output_dir, checkpoint_dir)


def session_window_stream(spark, input_path: str,
                          max_files_per_trigger: int | None = None):
    """Gap sessionization via Spark's NATIVE ``session_window``
    aggregation + watermark — the late-data-tolerant production form of
    the applyInPandasWithState sessionizer (state merged/evicted by the
    engine, out-of-order events within the watermark delay land in the
    right session, no custom fold).

    Timestamps are floored to whole seconds BEFORE the aggregation so
    the gap rule operates on epoch seconds exactly like the batch
    sessionizer and its oracles (session_window otherwise compares raw
    sub-second timestamps: a raw gap in (1800s, 1801s) would split here
    and merge there).  Append mode emits a session once the watermark
    reaches its window end (inclusive — empirically pinned: a session
    whose end EQUALS the final watermark is emitted), so over a finite
    AvailableNow input the output is exactly the sessions with
    ``last_event + gap <= max(ts) - delay`` — the SQL-expressible
    contract the DuckDB twin recomputes.  One stateful shuffle on
    (user_id, window); state is O(open sessions)."""
    stream = read_stream(spark, input_path, EVENTS_SCHEMA,
                         max_files_per_trigger)
    gap = f"{SESSION_GAP_MINUTES} minutes"
    agg = (stream
           .withColumn("ts", F.timestamp_seconds(F.unix_timestamp("ts")))
           .withWatermark("ts", WATERMARK_DELAY)
           .groupBy("user_id", F.session_window("ts", gap))
           .agg(F.count("*").alias("n_events"),
                F.round(F.sum("value"), 3).alias("total_value"))
           .select("user_id",
                   F.unix_timestamp("session_window.start")
                   .alias("start_epoch"),
                   # window end = last event + gap; report the LAST
                   # EVENT epoch so rows line up with the batch
                   # sessionizer's (start, end) convention
                   (F.unix_timestamp("session_window.end")
                    - SESSION_GAP_MINUTES * 60).alias("end_epoch"),
                   "n_events", "total_value"))
    return run_to_scratch_parquet(agg, spark, "session_window_")


def stream_stream_join(spark: SparkSession, input_path: str,
                       max_files_per_trigger: int | None = None,
                       how: str = "inner") -> DataFrame:
    """Watermarked STREAM-STREAM interval join: attribute each purchase
    event to the click events by the same user within 30 minutes before
    it (the classic click-to-purchase attribution join).  ``how`` is
    ``"inner"`` or ``"leftOuter"``.

    Both sides carry watermarks and the join condition bounds the
    event-time range, so the engine can evict join state older than
    watermark + horizon — state stays O(events inside the horizon), the
    property that lets the join run forever on an unbounded stream.
    Over a finite AvailableNow input an INNER join emits exactly the
    matched pairs (the watermark bounds state, not results), which is
    SQL-expressible — the DuckDB twin is a plain interval self-join.

    Emits raw pairs with integer epochs and lag; volume is bounded by
    the horizon (each purchase matches only clicks in its preceding
    window), not quadratic in the stream length.  Both sides are
    filters of one file-stream source, so each trigger lists and
    offsets the input once."""
    events = read_stream(spark, input_path, EVENTS_SCHEMA,
                         max_files_per_trigger)

    def side(event_type: str, user: str, ts: str) -> DataFrame:
        return (events
                .filter(F.col("event_type") == event_type)
                .select(F.col("user_id").alias(user), F.col("ts").alias(ts))
                .withWatermark(ts, WATERMARK_DELAY))

    joined = (side("click", "u1", "t1").join(
        side("purchase", "u2", "t2"),
        F.expr("u1 = u2 AND t2 >= t1 AND t2 <= t1 + interval 30 minutes"),
        how)
        .select(F.col("u1").alias("user_id"),
                F.unix_timestamp("t1").alias("click_epoch"),
                F.unix_timestamp("t2").alias("purchase_epoch"),
                (F.unix_timestamp("t2") - F.unix_timestamp("t1"))
                .alias("lag_sec")))
    return run_to_scratch_parquet(joined, spark, "stream_join_")


def stream_static_enrich(spark: SparkSession, events_path: str,
                         customer_path: str,
                         max_files_per_trigger: int | None = None
                         ) -> DataFrame:
    """STREAM-STATIC dimension enrichment: join the event stream to the
    (batch) customer table per micro-batch — the standard streaming
    enrichment shape.  Stateless: the static side is re-planned each
    trigger (picking up dimension updates between batches) and small
    enough to BROADCAST, so no watermark and no join state exist at
    all, and append mode needs no aggregation semantics; the stream
    side never shuffles.  value is floored to integer cents so the row
    set is bit-portable; over AvailableNow input the result equals the
    plain batch join, which the DuckDB twin recomputes."""
    stream = read_stream(spark, events_path, EVENTS_SCHEMA,
                         max_files_per_trigger)
    dims = F.broadcast(
        spark.read.parquet(customer_path)
        .select(F.col("c_custkey").alias("user_id"),
                F.col("c_nationkey").cast("long").alias("nation")))
    enriched = (stream.join(dims, "user_id")
                .select("event_id", "user_id", "nation", "event_type",
                        F.floor(F.col("value") * 100).cast("long")
                        .alias("value_cents")))
    return run_to_scratch_parquet(enriched, spark, "stream_enrich_")


def stream_stream_join_outer(spark: SparkSession, input_path: str,
                             max_files_per_trigger: int | None = None
                             ) -> DataFrame:
    """LEFT OUTER :func:`stream_stream_join`: clicks with NO purchase in
    the horizon also emit (null right side) — the attribution report
    that includes unconverted clicks.

    Outer-ness needs the watermark: a null row for a click can only
    emit once the engine KNOWS no match can still arrive, i.e. when
    the global watermark passes the click's match window.  Over a
    finite AvailableNow input the emitted set is therefore matched
    pairs PLUS unmatched clicks whose window closed under the FINAL
    watermark (max event time - delay); unmatched clicks after that
    line never emit — pinned empirically and recomputed by the DuckDB
    twin's filtered anti-join."""
    return stream_stream_join(spark, input_path,
                              max_files_per_trigger=max_files_per_trigger,
                              how="leftOuter")
