"""Custom stateful streaming operator on the MODERN state API:
per-user running aggregates with ``transformWithStateInPandas``
(Spark 4.x successor to ``applyInPandasWithState`` — typed state
variables, per-state TTL, timers).

The processor keeps one ValueState row per user (event count, value
sum, max event epoch) and emits the UPDATED running aggregate for every
user touched by a micro-batch.  Because the counters are monotone, the
final aggregate per user — selected downstream as the row with the
highest n_events via ``max_by`` — is independent of micro-batch
slicing, which is what makes the operator's contract deterministic and
DuckDB-checkable: it must equal the plain batch
``groupBy(user_id).agg(count, sum, max)``.

Scale shape: state is O(users) (one fixed-width row each, RocksDB-
backed on a real cluster), the only shuffle is the groupBy key, and the
in-batch fold is a vectorized pandas aggregation — the same contract as
the gap sessionizer in ``stateful.py``.

ENVIRONMENT GATE: transformWithState's state-server protocol imports
``google.protobuf`` (pyspark 4.1 ships the generated StateMessage_pb2
but not protobuf itself), which this container lacks and cannot
install — the streaming run raises
STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE at pre-init.  The
operator is complete and the processor fold is unit-tested against a
fake state (tests/test_streaming.py); the end-to-end test self-skips
until protobuf is present.  It also requires the RocksDB state store provider
(``spark.sql.streaming.stateStore.providerClass``).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.stateful_processor import (StatefulProcessor,
                                                      StatefulProcessorHandle)

from ocr_proofreader_spark.streaming.stateful import (EVENTS_SCHEMA,
                                                      as_stream_dir,
                                                      run_to_scratch_parquet)

RUNNING_OUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
    T.StructField("max_epoch", T.LongType()),
])

_STATE_SCHEMA = ("n_events BIGINT, total_value DOUBLE, max_epoch BIGINT")


class _RunningAgg(StatefulProcessor):
    def init(self, handle: StatefulProcessorHandle) -> None:
        self._agg = handle.getValueState("agg", _STATE_SCHEMA)

    def handleInputRows(self, key: Tuple, rows: Iterator[pd.DataFrame],
                        timerValues) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n = tot = 0
        mx = -(1 << 62)
        for pdf in rows:
            if len(pdf) == 0:     # empty chunk: int(NaN max) would raise
                continue
            n += len(pdf)
            tot += float(pdf["value"].sum())
            mx = max(mx, int((pdf["ts"].astype("int64") // 10**9).max()))
        if n == 0:                # nothing folded: no state write, no emit
            return
        if self._agg.exists():
            pn, pt, pm = self._agg.get()
            n, tot, mx = n + pn, tot + pt, max(mx, pm)
        self._agg.update((n, tot, mx))
        yield pd.DataFrame([(user_id, n, tot, mx)],
                           columns=[f.name for f in RUNNING_OUT])

    def close(self) -> None:
        pass


def user_totals_stream(spark: SparkSession, input_path: str,
                       max_files_per_trigger: int | None = None
                       ) -> DataFrame:
    """Run the running-aggregate processor over ``input_path`` with
    Trigger.AvailableNow and return the FINAL aggregate per user (the
    emission with the highest event count — counters are monotone, so
    this equals the batch groupBy whatever the batch slicing was).
    total_value is rounded after selection: double summation order
    differs across slicings by ulps.

    transformWithState requires the RocksDB state store provider; it
    is set here (runtime-settable session conf) rather than left to
    the caller — without it the stream start fails with an
    unsupported-provider error even where protobuf exists.  The prior
    providerClass is RESTORED on every exit path (r6, ADVICE r5): a
    leaked RocksDB setting would make the applyInPandasWithState
    fallback fail identically to a provider-broken native leg, and
    silently switch every later stateful stream in the shared session
    to RocksDB."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        reader = spark.readStream.schema(EVENTS_SCHEMA)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger",
                                   str(max_files_per_trigger))
        stream = reader.parquet(as_stream_dir(input_path))
        running = (stream
                   .groupBy("user_id")
                   .transformWithStateInPandas(
                       _RunningAgg(), RUNNING_OUT, "append", "None"))
        emitted = run_to_scratch_parquet(running, spark, "tws_agg_")
        return _final_totals(emitted)
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


# ---------------------------------------------------------------------------
# protobuf-free fallback (VERDICT r04 item 8): the same running-
# aggregate contract on the OLDER applyInPandasWithState API, whose
# worker protocol does not need google.protobuf.  Production keeps the
# typed-state transformWithStateInPandas operator (TTL, timers,
# RocksDB column families); this twin exists so the operator contract
# has e2e streaming execution even in containers without protobuf —
# and so the two APIs can be differentially tested where both run.

_FALLBACK_STATE = T.StructType([
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
    T.StructField("max_epoch", T.LongType()),
])


def _running_fold(key: Tuple, pdfs: Iterator[pd.DataFrame],
                  state) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n = 0
    tot = 0.0
    mx = -(1 << 62)
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        n += len(pdf)
        tot += float(pdf["value"].sum())
        mx = max(mx, int((pdf["ts"].astype("int64") // 10**9).max()))
    if n == 0:
        return
    if state.exists:
        pn, pt, pm = state.get
        n, tot, mx = n + pn, tot + pt, max(mx, pm)
    state.update((n, tot, mx))
    yield pd.DataFrame([(user_id, n, tot, mx)],
                       columns=[f.name for f in RUNNING_OUT])


def user_totals_stream_fallback(spark: SparkSession, input_path: str,
                                max_files_per_trigger: int | None = None
                                ) -> DataFrame:
    """:func:`user_totals_stream` on applyInPandasWithState — same
    emission rule (updated running aggregate per touched user), same
    monotone-counter final selection, no protobuf dependency."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    stream = reader.parquet(as_stream_dir(input_path))
    running = (stream
               .groupBy("user_id")
               .applyInPandasWithState(
                   _running_fold, RUNNING_OUT, _FALLBACK_STATE,
                   "append", GroupStateTimeout.NoTimeout))
    emitted = run_to_scratch_parquet(running, spark, "tws_agg_fb_")
    return _final_totals(emitted)


def _final_totals(emitted: DataFrame) -> DataFrame:
    return (emitted
            .groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"),
                 F.expr("max_by(total_value, n_events)").alias("_tv"),
                 F.max("max_epoch").alias("max_epoch"))
            .select("user_id", "n_events",
                    F.round("_tv", 3).alias("total_value"), "max_epoch"))


def user_totals_stream_auto(spark: SparkSession, input_path: str,
                            max_files_per_trigger: int | None = None
                            ) -> DataFrame:
    """Route to the modern typed-state operator when its protocol can
    initialize (google.protobuf importable), else the fallback — the
    contract is identical either way.  The native attempt is also
    belt-and-braces guarded: if its stream fails to START for any
    environmental reason (state-server init, RocksDB provider JNI,
    ...), the fallback still answers — both legs compute the same
    contract, so degrading is always correct (r5 review finding: a
    protobuf-present container could otherwise error where the
    fallback would have worked)."""
    import importlib.util
    try:
        has_pb = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        has_pb = False
    if has_pb:
        try:
            return user_totals_stream(spark, input_path,
                                      max_files_per_trigger)
        except Exception as exc:     # env-conditional start failure
            # visible degradation (r6, ADVICE r5): a genuine operator
            # bug must not silently hide behind the contract-equal
            # fallback — both legs compute the same rows, so nothing
            # downstream would ever notice the switch
            import logging
            logging.getLogger(__name__).warning(
                "transformWithStateInPandas leg failed (%r); degrading "
                "to the applyInPandasWithState fallback", exc)
    return user_totals_stream_fallback(spark, input_path,
                                       max_files_per_trigger)
