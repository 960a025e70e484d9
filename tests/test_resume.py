"""Resumability protocol (SURVEY.md test 5.2-6): a killed run replays only
unfinished buckets and the final output is identical to an uninterrupted
run."""

import glob
import json
import os
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ocr_proofreader_spark.config import RunConfig
from ocr_proofreader_spark.lexicon import broadcast_lexicon
from ocr_proofreader_spark.operators import resume
from ocr_proofreader_spark.operators.proofread import proofread
from ocr_proofreader_spark.operators.resume import ResumableRunner, bucket_col
from ocr_proofreader_spark.schemas import LINEAGE


def _tuples(rows):
    return {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"])
                          for s in r["spans"]]
            for r in rows}


def test_kill_and_resume(spark, corpus_small, base_lexicon, tmp_path):
    docs = (spark.read.parquet(f"{corpus_small}/documents.parquet")
            .limit(80).cache())
    cfg = RunConfig(run_id="r1", num_buckets=6)
    lex_bc = broadcast_lexicon(spark, base_lexicon)
    out_root = str(tmp_path / "out")

    runner = ResumableRunner(spark, out_root, cfg, lex_bc)
    with pytest.raises(RuntimeError, match="injected failure"):
        runner.run(docs, fail_after=3)
    assert len(runner.committed()) == 3

    finished = sorted(runner.committed())
    mtimes = {b: os.path.getmtime(os.path.join(out_root, "data",
                                               f"bucket={b}"))
              for b in finished}

    # resume with a NEW run_id (fresh driver) on the same output root
    runner2 = ResumableRunner(spark, out_root,
                              RunConfig(run_id="r2", num_buckets=6), lex_bc)
    runner2.run(docs)
    assert len(runner2.committed()) == 6

    # finished buckets were not rewritten
    for b, mt in mtimes.items():
        assert os.path.getmtime(
            os.path.join(out_root, "data", f"bucket={b}")) == mt

    # output identical to an uninterrupted single-shot run
    resumed = _tuples(spark.read.parquet(runner2.data_dir).collect())
    single = _tuples(proofread(spark, docs, cfg, lex_bc).collect())
    assert resumed == single

    # lineage: one ok row per bucket, attempts all 1 (no partial replays)
    lineage = spark.read.parquet(runner2.lineage_dir).collect()
    assert len(lineage) == 6
    assert {r["partition_id"] for r in lineage} == set(range(6))
    assert all(r["status"] == "ok" for r in lineage)
    assert all(r["attempt"] == 1 for r in lineage)
    assert sum(r["doc_count"] for r in lineage) == 80
    assert sum(r["corrections"] for r in lineage) > 0

    # a successful run leaves no scratch behind, its own or the dead run's
    assert os.listdir(os.path.join(out_root, "_tmp")) == []


@pytest.mark.parametrize("n_docs,num_buckets", [(1, 8), (0, 4)])
def test_empty_buckets_and_empty_input(spark, corpus_small, base_lexicon,
                                       tmp_path, n_docs, num_buckets):
    """Empty buckets are still committed (directory and a
    ``doc_count = 0`` lineage row), and the output holds exactly the
    input's docs."""
    docs = spark.read.parquet(f"{corpus_small}/documents.parquet")
    first = docs.select("doc_id").first()["doc_id"]
    docs = docs.filter(F.col("doc_id") == first) if n_docs else \
        docs.filter(F.lit(False))
    cfg = RunConfig(run_id="r1", num_buckets=num_buckets)
    out_root = str(tmp_path / "out")
    runner = ResumableRunner(spark, out_root, cfg,
                             broadcast_lexicon(spark, base_lexicon))
    runner.run(docs)

    assert set(runner.committed()) == set(range(num_buckets))
    for b in range(num_buckets):
        assert os.path.isdir(os.path.join(out_root, "data", f"bucket={b}"))
    lineage = spark.read.parquet(runner.lineage_dir).collect()
    assert sorted(r["partition_id"] for r in lineage) == \
        list(range(num_buckets))
    assert sorted(r["doc_count"] for r in lineage) == \
        [0] * (num_buckets - n_docs) + [1] * n_docs
    files = glob.glob(os.path.join(runner.data_dir, "bucket=*", "*.parquet"))
    assert [d for f in files
            for d in pq.read_table(f)["doc_id"].to_pylist()] == \
        [first] * n_docs


def test_lineage_format_compat(spark, corpus_small, base_lexicon, tmp_path,
                               capsys):
    """A root half done by the per-bucket runner, whose lineage rows were
    one-row Spark writes each followed by a ``.done`` marker, resumes
    under the driver-written lineage files: both kinds read as one table,
    a bucket with a row and its data is committed with or without its
    marker, the stamp without a bucket count gets one, and a bucket the
    old runner replayed (two rows) counts its docs once in the job's
    ``docs``."""
    from ocr_proofreader_spark.jobs import proofread_job
    from ocr_proofreader_spark.operators.resume import BUCKET_HASH_VERSION
    inp = str(tmp_path / "docs")
    (spark.read.parquet(f"{corpus_small}/documents.parquet").limit(40)
     .write.parquet(inp))
    docs = spark.read.parquet(inp).cache()
    lex_bc = broadcast_lexicon(spark, base_lexicon)
    old_cfg = RunConfig(run_id="old", num_buckets=4)
    out_root = str(tmp_path / "out")
    lineage_dir = os.path.join(out_root, "lineage")
    markers = os.path.join(out_root, "_markers")
    os.makedirs(markers)
    with open(os.path.join(markers, "_HASH_VERSION"), "w") as fh:
        fh.write(BUCKET_HASH_VERSION)

    bucketed = docs.withColumn("b", bucket_col(4))
    counts = {}
    for b in (0, 1):
        out = proofread(spark, bucketed.filter(F.col("b") == b).drop("b"),
                        old_cfg, lex_bc).cache()
        (out.drop("span_count", "corrections", "flagged")
         .write.parquet(os.path.join(out_root, "data", f"bucket={b}")))
        sums = out.agg(F.count("*").alias("doc_count"),
                       *[F.sum(m).alias(m) for m in
                         ("span_count", "corrections", "flagged")]).first()
        counts[b] = {k: int(v or 0) for k, v in sums.asDict().items()}
        out.unpersist()
    # bucket 0 crashed between its row and its marker, was replayed by
    # the next run and committed; bucket 1 crashed between row and marker
    for run_id, b, attempt in (("old", 0, 1), ("old2", 0, 2),
                               ("old2", 1, 1)):
        spark.createDataFrame([{
            "run_id": run_id, "partition_id": b, **counts[b],
            "status": "ok", "wall_ms": 1, "attempt": attempt,
            "finished_at": datetime.now(timezone.utc),
        }], LINEAGE).coalesce(1).write.mode("append").parquet(lineage_dir)
    with open(os.path.join(markers, "0.done"), "w") as fh:
        fh.write("old2")
    mtimes = {b: os.path.getmtime(os.path.join(out_root, "data",
                                               f"bucket={b}"))
              for b in (0, 1)}

    new = ResumableRunner(spark, out_root,
                          RunConfig(run_id="new", num_buckets=4), lex_bc)
    with open(new.stamp) as fh:
        assert fh.read().split() == [BUCKET_HASH_VERSION, "4"]
    assert new.committed() == {b: counts[b]["doc_count"] for b in (0, 1)}
    committed = new.run(docs)
    assert set(new.committed()) == {0, 1, 2, 3}
    # neither old bucket is replayed, marker or not
    for b, mt in mtimes.items():
        assert os.path.getmtime(
            os.path.join(out_root, "data", f"bucket={b}")) == mt

    raw = spark.read.parquet(new.lineage_dir).collect()
    assert sorted((r["partition_id"], r["attempt"], r["run_id"])
                  for r in raw) == [(0, 1, "old"), (0, 2, "old2"),
                                    (1, 1, "old2"), (2, 1, "new"),
                                    (3, 1, "new")]
    assert sum(new.committed().values()) == 40
    # run() reports the docs of the buckets it committed, not 0's or 1's
    assert committed == sum(r["doc_count"] for r in raw
                            if r["run_id"] == "new")

    resumed = _tuples(spark.read.parquet(new.data_dir).collect())
    assert resumed == _tuples(proofread(spark, docs, old_cfg,
                                        lex_bc).collect())

    # the job on the finished root counts bucket 0's two rows once
    proofread_job.main(["--input", inp, "--output", out_root,
                        "--num-buckets", "4", "--run-id", "job"],
                       spark=spark)
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs"] == 40 and rep["docs_per_sec"] == 0


def test_resume_with_other_bucket_count(spark, corpus_small, base_lexicon,
                                        tmp_path):
    """A 16-bucket root killed after 8 buckets must not resume at 8
    buckets: its buckets 0-7 would read as done, and the docs the
    8-bucket hash puts in them would never be written.  The resume is
    refused; at the stamped count it completes the output."""
    docs = (spark.read.parquet(f"{corpus_small}/documents.parquet")
            .limit(40).cache())
    lex_bc = broadcast_lexicon(spark, base_lexicon)
    out_root = str(tmp_path / "out")

    r16 = ResumableRunner(spark, out_root,
                          RunConfig(run_id="r16", num_buckets=16), lex_bc)
    with pytest.raises(RuntimeError, match="injected failure"):
        r16.run(docs, fail_after=8)
    assert sorted(os.listdir(r16.data_dir)) == \
        sorted(f"bucket={b}" for b in range(8))

    with pytest.raises(RuntimeError, match="bucketed into 16 buckets"):
        ResumableRunner(spark, out_root,
                        RunConfig(run_id="r8", num_buckets=8), lex_bc)

    ResumableRunner(spark, out_root, RunConfig(run_id="r16b",
                                               num_buckets=16),
                    lex_bc).run(docs)
    assert spark.read.parquet(r16.data_dir).count() == 40


def test_one_proofread_pass_per_wave(spark, corpus_small, base_lexicon,
                                     tmp_path, monkeypatch):
    """One proofread() per wave: an input smaller than one round of
    splits (defaultParallelism x maxPartitionBytes) runs every bucket in
    one wave, a larger one in ceil(sqrt(num_buckets)) waves; fail_after
    still counts committed buckets."""
    calls = []

    def counting(*args, **kwargs):
        calls.append(1)
        return proofread(*args, **kwargs)

    monkeypatch.setattr(resume, "proofread", counting)
    docs = (spark.read.parquet(f"{corpus_small}/documents.parquet")
            .limit(40).cache())
    lex_bc = broadcast_lexicon(spark, base_lexicon)

    def run16(name: str) -> ResumableRunner:
        calls.clear()
        r = ResumableRunner(spark, str(tmp_path / name),
                            RunConfig(run_id="r", num_buckets=16), lex_bc)
        r.run(docs)
        return r

    r16 = run16("one_round")
    assert len(calls) == 1
    assert set(r16.committed()) == set(range(16))
    assert spark.read.parquet(r16.data_dir).count() == 40

    # 100-byte splits: the 40 docs span more than 4 rounds on the
    # session's 4 cores, so the wave count stops at ceil(sqrt(16)) = 4
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "100b")
    try:
        r16 = run16("many_rounds")
    finally:
        spark.conf.set(key, old)
    assert len(calls) == 4
    assert set(r16.committed()) == set(range(16))
    assert spark.read.parquet(r16.data_dir).count() == 40

    calls.clear()
    r6 = ResumableRunner(spark, str(tmp_path / "b6"),
                         RunConfig(run_id="r", num_buckets=6), lex_bc)
    with pytest.raises(RuntimeError, match="injected failure"):
        r6.run(docs, fail_after=3)
    assert len(calls) == 1
    assert len(r6.committed()) == 3


def test_hash_version_guard(spark, base_lexicon, tmp_path):
    """An output root bucketed under a different doc_id hash must refuse
    to resume (mixing layouts silently skips/duplicates docs)."""
    from ocr_proofreader_spark.operators.resume import (BUCKET_HASH_VERSION,
                                                        LINEAGE_ARROW)
    cfg = RunConfig(run_id="r1", num_buckets=4)
    lex_bc = broadcast_lexicon(spark, base_lexicon)
    out_root = str(tmp_path / "out")

    r1 = ResumableRunner(spark, out_root, cfg, lex_bc)
    with open(r1.stamp) as fh:
        # stamped on first init, with the bucket count
        assert fh.read() == f"{BUCKET_HASH_VERSION}\n4\n"
    ResumableRunner(spark, out_root, cfg, lex_bc)  # same version: fine

    with open(r1.stamp, "w") as fh:
        fh.write("xxhash64-v0")
    with pytest.raises(RuntimeError, match="bucketed with hash"):
        ResumableRunner(spark, out_root, cfg, lex_bc)

    # pre-stamp layout: a committed bucket (lineage row and data) but no
    # version file.  A row file still under its hidden name (killed
    # mid-write) and a row without its data directory commit nothing
    os.remove(r1.stamp)
    os.makedirs(r1.lineage_dir)
    open(os.path.join(r1.lineage_dir, ".part-1.parquet"), "w").close()
    assert r1.committed() == {}
    pq.write_table(pa.Table.from_pylist([{
        "run_id": "r0", "partition_id": 0, "doc_count": 1, "span_count": 1,
        "corrections": 0, "flagged": 0, "status": "ok", "wall_ms": 1,
        "attempt": 1, "finished_at": datetime.now(timezone.utc),
    }], schema=LINEAGE_ARROW), os.path.join(r1.lineage_dir, "part-0.parquet"))
    assert r1.committed() == {}
    ResumableRunner(spark, out_root, cfg, lex_bc)
    os.remove(r1.stamp)
    os.makedirs(os.path.join(r1.data_dir, "bucket=0"))
    with pytest.raises(RuntimeError, match="no _HASH_VERSION"):
        ResumableRunner(spark, out_root, cfg, lex_bc)
