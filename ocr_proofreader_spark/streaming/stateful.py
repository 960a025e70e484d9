"""Custom stateful streaming operators on ``applyInPandasWithState``,
plus the one file-stream reader and the one AvailableNow sink every
operator in ``streaming/`` shares.

``sessionize_stream`` is the streaming twin of the batch sessionizer
(operators/relational.py::sessionize, lag + cumulative sum): it keeps
one open session per user in Spark state and EMITS a session the moment
a later event closes it (gap > 30 min).  Open sessions stay in state, so
the operator's output is exactly the *closed* sessions — a semantics
that is SQL-expressible over a finite input (all sessions but each
user's last), which gives this streaming operator a bit-exact DuckDB
oracle.

``user_totals_stream`` keeps a running aggregate per user (event count,
value sum, max event epoch) and emits the UPDATED aggregate for every
user a micro-batch touches.  The counters are monotone, so the final
row per user — the emission with the highest n_events — does not depend
on micro-batch slicing and equals the plain batch
``groupBy(user_id).agg(count, sum, max)``.

Both keep state keyed by user_id (the shuffle key), one fixed-width row
per user — O(users), not O(events), so a year of events over 10^9 users
holds state the size of the user table.  Within a micro-batch the folds
are vectorized (numpy boundary flags + segment reduction, pandas sums),
not per-row Python.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ocr_proofreader_spark.operators.relational import SESSION_GAP_MINUTES

EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")

SESSION_OUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("session_no", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("start_epoch", T.LongType()),
    T.StructField("end_epoch", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
])

# (closed-session counter, open session: start/last epoch, n, sum)
SESSION_STATE = T.StructType([
    T.StructField("sessions_closed", T.LongType()),
    T.StructField("start_epoch", T.LongType()),
    T.StructField("last_epoch", T.LongType()),
    T.StructField("n", T.LongType()),
    T.StructField("total", T.DoubleType()),
])

RUNNING_OUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
    T.StructField("max_epoch", T.LongType()),
])

# the running aggregate without its key
RUNNING_STATE = T.StructType(RUNNING_OUT.fields[1:])


def read_stream(spark: SparkSession, path: str, schema: T.StructType | str,
                max_files_per_trigger: int | None = None) -> DataFrame:
    """File stream over ``path`` (parquet file or directory), at most
    ``max_files_per_trigger`` files per micro-batch when given.  The file
    stream source only takes directories, so a single file is exposed
    through a scratch dir holding one symlink to it."""
    if os.path.isfile(path):
        d = tempfile.mkdtemp(prefix="stream_src_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        os.symlink(os.path.abspath(path),
                   os.path.join(d, os.path.basename(path)))
        path = d
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.parquet(path)


def run_to_scratch_parquet(stream_df: DataFrame, spark: SparkSession,
                           prefix: str, output_dir: str | None = None,
                           checkpoint_dir: str | None = None) -> DataFrame:
    """Drain a streaming DataFrame through Trigger.AvailableNow into a
    parquet sink and return a batch DataFrame over the sink.

    A caller that passes ``output_dir``/``checkpoint_dir`` appends to
    that sink, and its stream state (watermark, dedup or session state)
    persists across runs.  Otherwise the sink and checkpoint go to a
    fresh driver-local tempfile.mkdtemp dir named after ``prefix``,
    which is only correct in local mode (on a cluster, executors must
    write to shared storage) and is removed at interpreter exit: the
    returned DataFrame stays lazy, so an eager unlink would break later
    actions.  NOT the memory sink: each memory-sink call pins its full
    result in the driver for the session lifetime."""
    if output_dir is None:
        scratch = tempfile.mkdtemp(prefix=prefix)
        atexit.register(shutil.rmtree, scratch, ignore_errors=True)
        output_dir = os.path.join(scratch, "out")
        checkpoint_dir = os.path.join(scratch, "ckpt")
    q = (stream_df.writeStream
         .format("parquet")
         .option("path", output_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    # schema from the streaming DataFrame: an append sink that emitted
    # zero rows has no data files, and a bare read.parquet would raise
    # UNABLE_TO_INFER_SCHEMA instead of returning an empty frame
    return spark.read.schema(stream_df.schema).parquet(output_dir)


def _session_fold(key: Tuple, pdfs: Iterator[pd.DataFrame],
                  state: GroupState) -> Iterator[pd.DataFrame]:
    gap_sec = SESSION_GAP_MINUTES * 60
    (user_id,) = key
    batch = pd.concat(list(pdfs), ignore_index=True)
    # event-time order with the same tie-break as the batch engine
    batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
    epochs = (batch["ts"].astype("int64") // 10**9).to_numpy()
    values = batch["value"].to_numpy()

    if state.exists:
        closed_no, s_start, s_last, s_n, s_tot = state.get
        segments = [[s_start, s_last, s_n, s_tot]]  # carried open sess
    else:
        closed_no, segments = 0, []

    # within-batch segments: boundary where the gap to the previous
    # batch event exceeds the session gap (vectorized)
    prev = np.concatenate(([-(1 << 62)], epochs[:-1]))
    seg_ids = np.cumsum((epochs - prev) > gap_sec)   # 1, 2, ...
    for sid in range(1, int(seg_ids[-1]) + 1):
        m = seg_ids == sid
        start, end = int(epochs[m][0]), int(epochs[m][-1])
        n, tot = int(m.sum()), float(values[m].sum())
        if segments and start - segments[-1][1] <= gap_sec:
            segments[-1][1] = end        # continues the previous one
            segments[-1][2] += n
            segments[-1][3] += tot
        else:
            segments.append([start, end, n, tot])

    out = []
    for start, end, n, tot in segments[:-1]:   # all but last = closed
        closed_no += 1
        out.append((user_id, closed_no, n, start, end, round(tot, 3)))
    s_start, s_last, s_n, s_tot = segments[-1]  # last stays open
    state.update((closed_no, s_start, s_last, s_n, s_tot))
    if out:
        yield pd.DataFrame(out, columns=[f.name for f in SESSION_OUT])


def sessionize_stream(spark: SparkSession, input_path: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """Run the stateful sessionizer over ``input_path`` (parquet file or
    directory) with Trigger.AvailableNow and return the closed sessions.

    One stateful shuffle on user_id; results drain through a scratch
    parquet sink (run_to_scratch_parquet — the memory sink would pin
    every result in the driver for the session lifetime).  Production
    would stream into the lineage-tracked table with a durable
    checkpoint dir.

    Ordering caveat: within a micro-batch events are sorted by
    (ts, event_id), but the fold assumes per-user event time is
    non-decreasing ACROSS micro-batches (AvailableNow over sorted files
    satisfies this); a late event arriving after its session closed in
    an earlier batch would start a new session rather than reopen the
    old one — a watermark+event-time-ordered variant is the fix when
    the source can reorder across batches."""
    stream = read_stream(spark, input_path, EVENTS_SCHEMA,
                         max_files_per_trigger)
    closed = (stream
              .groupBy("user_id")
              .applyInPandasWithState(
                  _session_fold, SESSION_OUT,
                  SESSION_STATE, "append", GroupStateTimeout.NoTimeout))
    return run_to_scratch_parquet(closed, spark, "sessionize_stream_")


def _running_fold(key: Tuple, pdfs: Iterator[pd.DataFrame],
                  state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, tot, mx = 0, 0.0, -(1 << 62)
    for pdf in pdfs:
        if len(pdf) == 0:     # empty chunk: int(NaN max) would raise
            continue
        n += len(pdf)
        tot += float(pdf["value"].sum())
        mx = max(mx, int((pdf["ts"].astype("int64") // 10**9).max()))
    if n == 0:                # nothing folded: no state write, no emit
        return
    if state.exists:
        pn, pt, pm = state.get
        n, tot, mx = n + pn, tot + pt, max(mx, pm)
    state.update((n, tot, mx))
    yield pd.DataFrame([(user_id, n, tot, mx)],
                       columns=[f.name for f in RUNNING_OUT])


def user_totals_stream(spark: SparkSession, input_path: str,
                       max_files_per_trigger: int | None = None
                       ) -> DataFrame:
    """Run the running-aggregate fold over ``input_path`` with
    Trigger.AvailableNow and return the FINAL aggregate per user (the
    emission with the highest event count — counters are monotone, so
    this equals the batch groupBy whatever the batch slicing was).
    total_value is rounded after selection: double summation order
    differs across slicings by ulps."""
    stream = read_stream(spark, input_path, EVENTS_SCHEMA,
                         max_files_per_trigger)
    running = (stream
               .groupBy("user_id")
               .applyInPandasWithState(
                   _running_fold, RUNNING_OUT, RUNNING_STATE,
                   "append", GroupStateTimeout.NoTimeout))
    return (run_to_scratch_parquet(running, spark, "user_totals_")
            .groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"),
                 F.expr("max_by(total_value, n_events)").alias("_tv"),
                 F.max("max_epoch").alias("max_epoch"))
            .select("user_id", "n_events",
                    F.round("_tv", 3).alias("total_value"), "max_epoch"))
