"""Structured Streaming operators (stateful sessionizing and running
aggregates, watermarked windows and joins, streaming dedup): state and
output are checked across micro-batches."""

import os
import shutil


def _land(df, in_dir, name):
    """Write ``df`` as the one parquet file ``in_dir/name``, so a file
    stream with maxFilesPerTrigger=1 reads it as one micro-batch.  The
    staging dir's leading '_' hides it from the file stream source."""
    tmp = os.path.join(in_dir, "_" + name)
    df.coalesce(1).write.parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.rename(os.path.join(tmp, part), os.path.join(in_dir, name))
    shutil.rmtree(tmp)


def test_stateful_sessionize_stream_across_batches(spark, tmp_path):
    """applyInPandasWithState sessionizer: state must carry open sessions
    across micro-batches — split the events by time into two files,
    force one file per trigger, and demand exact equality with the batch
    engine's closed sessions (all but each user's last)."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ocr_proofreader_spark.operators.relational import sessionize
    from ocr_proofreader_spark.streaming.stateful import sessionize_stream

    src = "/root/testdata/sf0.001/events.parquet"
    if not os.path.exists(src):
        pytest.skip("driver testdata missing")
    ev = spark.read.parquet(src)
    in_dir = str(tmp_path / "ev_in")
    # time-ordered split: every user's earlier events land in file 0, so
    # sessions spanning the cut exercise the state carry
    ts_cut = ev.agg(
        F.expr("percentile(unix_timestamp(ts), 0.5)")).first()[0]
    for sub, part_df in (("b0", ev.filter(F.unix_timestamp("ts") <= ts_cut)),
                         ("b1", ev.filter(F.unix_timestamp("ts") > ts_cut))):
        _land(part_df, in_dir, f"{sub}.parquet")

    got = sessionize_stream(spark, in_dir, max_files_per_trigger=1)
    g = {(r["user_id"], r["session_no"]):
         (r["n_events"], r["start_epoch"], r["end_epoch"], r["total_value"])
         for r in got.collect()}

    batch = sessionize(ev)
    w = Window.partitionBy("user_id")
    closed = (batch.withColumn("mx", F.max("session_no").over(w))
              .filter(F.col("session_no") < F.col("mx")).drop("mx"))
    b = {(r["user_id"], r["session_no"]):
         (r["n_events"], r["start_epoch"], r["end_epoch"], r["total_value"])
         for r in closed.collect()}
    assert g == b
    assert len(g) > 0


def test_windowed_stream_drops_late_events(spark, tmp_path):
    """Watermark contract across RESTARTS: a late file ingested by a
    restarted query is filtered against the checkpoint-restored
    watermark — the emitted window counts never include the late event.
    (Within a single AvailableNow run the late filter uses the trigger's
    starting watermark, so the restart is where the drop is observable.)
    """
    import pytest
    from pyspark.sql import functions as F

    from ocr_proofreader_spark.streaming.windowed import (
        windowed_counts_stream)

    src = "/root/testdata/sf0.001/events.parquet"
    if not os.path.exists(src):
        pytest.skip("driver testdata missing")
    ev = spark.read.parquet(src)
    in_dir = str(tmp_path / "ev_win")
    out_dir = str(tmp_path / "win_out")
    ckpt = str(tmp_path / "win_ckpt")

    # run 1: all on-time events -> watermark = max(ts) - 30min persisted
    _land(ev, in_dir, "b0.parquet")
    first = windowed_counts_stream(spark, in_dir, output_dir=out_dir,
                                   checkpoint_dir=ckpt)
    n_first = first.count()
    assert n_first > 0

    # a very old event lands AFTER the run; restart ingests it against
    # the restored watermark -> dropped, nothing new emitted
    oldest = ev.orderBy("ts", "event_id").limit(1)
    late = (oldest.withColumn("event_id", F.lit(999999).cast("long"))
            .withColumn("value", F.lit(1000.0)))
    _land(late, in_dir, "b1.parquet")
    got = windowed_counts_stream(spark, in_dir, output_dir=out_dir,
                                 checkpoint_dir=ckpt)
    g = {(r["window_start"], r["event_type"]):
         (r["n_events"], r["total_value"]) for r in got.collect()}
    assert len(g) == n_first          # no duplicate / re-emitted window

    # emitted rows equal the ON-TIME batch counts for closed windows
    mx = ev.agg(F.max(F.unix_timestamp("ts"))).first()[0]
    batch = (ev.groupBy(
        (F.floor(F.unix_timestamp("ts") / 3600) * 3600)
        .alias("window_start"), "event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 3).alias("tv")))
    b = {(r["window_start"], r["event_type"]): (r["n"], r["tv"])
         for r in batch.collect()
         if r["window_start"] + 3600 <= mx - 1800}
    assert g == b          # late event contributed to nothing


def test_dedup_stream_suppresses_across_microbatches(spark, tmp_path):
    """Streaming exact dedup: duplicates arriving in LATER micro-batches
    are suppressed by state carried across batches, and the emitted hash
    set equals the batch distinct set."""
    import pytest
    from pyspark.sql import functions as F

    from ocr_proofreader_spark.streaming.dedup_stream import \
        dedup_stream_hashes

    src = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(src):
        pytest.skip("driver testdata missing")
    base = spark.read.parquet(src)
    docs = base.unionByName(base.limit(100))   # inject exact duplicates
    multi = str(tmp_path / "docs_multi")
    docs.repartition(4).write.parquet(multi)   # dups spread across files

    out = dedup_stream_hashes(spark, multi, max_files_per_trigger=1)
    got = sorted(r["content_hash"] for r in out.collect())
    expected = sorted(r["h"] for r in docs.select(
        F.md5("text").alias("h")).distinct().collect())
    assert got == expected                     # set equality AND no dup
    assert len(got) < docs.count()             # input really had dups


def test_running_fold():
    """user_totals_stream's per-key fold over a fake GroupState matches
    a pandas groupby whatever the batch slicing — the monotone-counter
    property the final-row selection relies on."""
    import pandas as pd

    from ocr_proofreader_spark.streaming.stateful import _running_fold

    class FakeState:
        """GroupState's ``exists`` and ``get`` are properties."""

        def __init__(self):
            self.v = None

        @property
        def exists(self):
            return self.v is not None

        @property
        def get(self):
            return self.v

        def update(self, v):
            self.v = v

    events = pd.DataFrame({
        "ts": pd.to_datetime([1000, 2000, 1500, 9000], unit="s"),
        "value": [1.5, 2.0, 0.25, 3.0],
    })
    for split in (1, 2, 4):   # batch slicing must not change the result
        state = FakeState()
        chunks = [events.iloc[i:i + split] for i in range(0, 4, split)]
        last = None
        for ch in chunks:
            last = next(_running_fold((7,), iter([ch]), state))
        assert last.iloc[0]["n_events"] == 4
        assert abs(last.iloc[0]["total_value"] - 6.75) < 1e-9
        assert last.iloc[0]["max_epoch"] == 9000
        assert state.v == (4, 6.75, 9000)

    # empty chunks: an empty pandas chunk must not crash the fold (int
    # of a NaN max), an all-empty invocation must emit nothing and leave
    # state untouched (no sentinel max_epoch), and an empty chunk mixed
    # with real ones must not alter the result
    state = FakeState()
    out = list(_running_fold((7,), iter([events.iloc[0:0]]), state))
    assert out == [] and state.v is None
    mixed = iter([events.iloc[0:2], events.iloc[0:0], events.iloc[2:4]])
    last = next(_running_fold((7,), mixed, state))
    assert last.iloc[0]["n_events"] == 4
    assert last.iloc[0]["max_epoch"] == 9000


def test_session_window_stream_boundary_semantics(spark, tmp_path):
    """Pins the two subtle rules of the native session_window operator:
    (a) a session whose end + gap EQUALS the final watermark is emitted
    (inclusive boundary — the oracle's <=), and (b) timestamps are
    floored to seconds before the gap rule, so a raw gap in
    (1800s, 1801s) whose floored diff is exactly 1800 MERGES like the
    batch sessionizer, instead of splitting on raw sub-second time."""
    import datetime as dt

    from ocr_proofreader_spark.streaming.stateful import EVENTS_SCHEMA
    from ocr_proofreader_spark.streaming.windowed import (
        session_window_stream)

    base = 1_700_000_000

    def ts(sec):
        return dt.datetime.fromtimestamp(
            sec, dt.timezone.utc).replace(tzinfo=None)

    rows = [
        # user 1: end + gap == final watermark -> boundary emission
        (1, ts(base), 1, "view", 1.0, "{}"),
        # user 5: raw gap 1800.4s (raw rule would SPLIT) but floored
        # diff exactly 1800 -> must MERGE into one open session
        (4, ts(base + 0.2), 5, "view", 2.0, "{}"),
        (5, ts(base + 1800.6), 5, "view", 3.0, "{}"),
        # watermark driver: max ts = base + 3600
        (9, ts(base + 3600.0), 9, "view", 9.9, "{}"),
    ]
    df = spark.createDataFrame(rows, schema=EVENTS_SCHEMA)
    src = str(tmp_path / "ev_boundary")
    df.coalesce(1).write.parquet(src)
    out = session_window_stream(spark, src)
    got = sorted((r.user_id, r.start_epoch, r.end_epoch, r.n_events)
                 for r in out.collect())
    # ONLY user 1's boundary session is closed; user 5 merged into one
    # still-open session (a raw-time split would have emitted its first
    # half), users 9 open
    assert got == [(1, base, base, 1)]


def test_stream_stream_join_across_batches(spark, tmp_path, monkeypatch):
    """Watermarked stream-stream interval join: a click in micro-batch 0
    must still match a purchase arriving in micro-batch 1 (buffered
    join state carries across triggers), matches outside the horizon or
    in the wrong order must not emit, and the multi-batch result equals
    the single-batch one.  Both join sides read one file-stream source."""
    import datetime as dt
    import glob
    import tempfile

    from ocr_proofreader_spark.streaming.stateful import EVENTS_SCHEMA
    from ocr_proofreader_spark.streaming.windowed import stream_stream_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, minutes, user, etype):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, etype,
                1.0, "{}")
    rows = [
        ev(0, 0, 1, "click"), ev(1, 10, 1, "purchase"),    # match (cross)
        ev(2, 5, 2, "click"), ev(3, 50, 2, "purchase"),    # > horizon
        ev(4, 20, 3, "purchase"), ev(5, 25, 3, "click"),   # wrong order
        ev(6, 30, 4, "click"), ev(7, 31, 4, "purchase"),   # match (b1 only)
    ]
    in_dir = str(tmp_path / "ssj_in")
    # batch 0: events up to minute 15; batch 1: the rest — the user-1
    # pair spans the cut, exercising buffered state
    for name, subset in (("b0", rows[:3]), ("b1", rows[3:])):
        _land(spark.createDataFrame(subset, EVENTS_SCHEMA), in_dir,
              f"{name}.parquet")

    # the scratch sink and its checkpoint land under tmp_path
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    got = {(r["user_id"], r["lag_sec"])
           for r in stream_stream_join(
               spark, in_dir, max_files_per_trigger=1).collect()}
    assert got == {(1, 600), (4, 60)}
    sources = glob.glob(str(tmp_path / "stream_join_*" / "ckpt" /
                            "sources" / "*"))
    assert [os.path.basename(s) for s in sources] == ["0"]
    single = {(r["user_id"], r["lag_sec"])
              for r in stream_stream_join(spark, in_dir).collect()}
    assert single == got


def test_stream_static_enrich_matches_batch(spark, tmp_path):
    """Stateless stream-static enrichment: the per-micro-batch
    broadcast dimension join over split input equals the plain batch
    join, and unmatched stream rows drop (inner semantics)."""
    import pytest
    from pyspark.sql import functions as F

    from ocr_proofreader_spark.streaming.windowed import stream_static_enrich

    ev_src = "/root/testdata/sf0.001/events.parquet"
    cust_src = "/root/testdata/sf0.001/customer.parquet"
    if not (os.path.exists(ev_src) and os.path.exists(cust_src)):
        pytest.skip("driver testdata missing")
    ev = spark.read.parquet(ev_src)
    in_dir = str(tmp_path / "ev_in")
    half = ev.agg(F.expr("percentile(event_id, 0.5)")).first()[0]
    for name, sub in (("b0", ev.filter(F.col("event_id") <= half)),
                      ("b1", ev.filter(F.col("event_id") > half))):
        _land(sub, in_dir, f"{name}.parquet")

    got = sorted(tuple(r) for r in stream_static_enrich(
        spark, in_dir, cust_src, max_files_per_trigger=1).collect())
    cust = (spark.read.parquet(cust_src)
            .select(F.col("c_custkey").alias("user_id"),
                    F.col("c_nationkey").cast("long").alias("nation")))
    batch = (ev.join(cust, "user_id")
             .select("event_id", "user_id", "nation", "event_type",
                     F.floor(F.col("value") * 100).cast("long")
                     .alias("value_cents")))
    expected = sorted(tuple(r) for r in batch.collect())
    assert got == expected and len(got) > 0


def test_stream_stream_join_outer_null_emission(spark, tmp_path):
    """Left-outer join null emission: an unmatched click emits a
    null-right row ONLY once the global watermark (min of both
    streams' maxima minus delay) passes its match window — old
    unconverted clicks emit, recent ones stay suppressed."""
    import datetime as dt

    from ocr_proofreader_spark.streaming.stateful import EVENTS_SCHEMA
    from ocr_proofreader_spark.streaming.windowed import \
        stream_stream_join_outer

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, minutes, user, etype):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, etype,
                1.0, "{}")
    rows = [
        ev(8, -90, 5, "click"),                            # old: null row
        ev(0, 0, 1, "click"), ev(1, 10, 1, "purchase"),    # pair
        ev(2, 5, 2, "click"), ev(3, 50, 2, "purchase"),    # > horizon
        ev(4, 20, 3, "purchase"), ev(5, 25, 3, "click"),   # wrong order
        ev(6, 30, 4, "click"), ev(7, 31, 4, "purchase"),   # pair
    ]
    # final watermark = min(max click 12:30, max purchase 12:31) - 30min
    # = 12:00 -> only the -90min click's window (-60min) has closed;
    # users 2/3's unmatched clicks stay suppressed
    in_dir = str(tmp_path / "ssjo_in")
    for name, subset in (("b0", rows[:4]), ("b1", rows[4:])):
        _land(spark.createDataFrame(subset, EVENTS_SCHEMA), in_dir,
              f"{name}.parquet")
    got = {(r["user_id"], r["lag_sec"])
           for r in stream_stream_join_outer(
               spark, in_dir, max_files_per_trigger=1).collect()}
    assert got == {(1, 600), (4, 60), (5, None)}


def test_user_totals_stream_end_to_end(spark, tmp_path, monkeypatch):
    """The applyInPandasWithState running aggregate over events split by
    time into two files, one per trigger, must equal the plain batch
    groupBy (the operator's monotone-counter contract): a user's state
    carries from micro-batch 0 into micro-batch 1."""
    import glob
    import tempfile

    import pytest
    from pyspark.sql import functions as F

    from ocr_proofreader_spark.streaming.stateful import user_totals_stream
    src = "/root/testdata/sf0.001/events.parquet"
    if not os.path.exists(src):
        pytest.skip("driver testdata missing")
    ev = spark.read.parquet(src)
    in_dir = str(tmp_path / "ev_in")
    ts_cut = ev.agg(
        F.expr("percentile(unix_timestamp(ts), 0.5)")).first()[0]
    early = ev.filter(F.unix_timestamp("ts") <= ts_cut)
    late = ev.filter(F.unix_timestamp("ts") > ts_cut)
    _land(early, in_dir, "b0.parquet")
    _land(late, in_dir, "b1.parquet")
    # some users have events on both sides of the cut
    assert early.select("user_id").intersect(
        late.select("user_id")).count() > 0

    # the scratch sink and its checkpoint land under tmp_path
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = {r["user_id"]: r for r in user_totals_stream(
        spark, in_dir, max_files_per_trigger=1).collect()}
    commits = glob.glob(str(tmp_path / "user_totals_*" / "ckpt" /
                            "commits" / "[0-9]*"))
    assert len(commits) >= 2          # more than one micro-batch ran

    batch = {r["user_id"]: r for r in (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 3).alias("total_value"),
             F.max(F.unix_timestamp("ts")).alias("max_epoch"))
        .collect())}
    assert set(out) == set(batch)
    for uid, r in out.items():
        b = batch[uid]
        assert (r["n_events"], r["max_epoch"]) == \
            (b["n_events"], b["max_epoch"]), uid
        assert abs(r["total_value"] - b["total_value"]) < 1e-9, uid
