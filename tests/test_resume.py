"""Resumability protocol (SURVEY.md test 5.2-6): a killed run replays only
unfinished buckets and the final output is identical to an uninterrupted
run."""

import os
from datetime import datetime, timezone

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
    assert len(runner.done_buckets()) == 3

    finished = sorted(runner.done_buckets())
    mtimes = {b: os.path.getmtime(os.path.join(out_root, "data",
                                               f"bucket={b}"))
              for b in finished}

    # resume with a NEW run_id (fresh driver) on the same output root
    runner2 = ResumableRunner(spark, out_root,
                              RunConfig(run_id="r2", num_buckets=6), lex_bc)
    runner2.run(docs)
    assert len(runner2.done_buckets()) == 6

    # finished buckets were not rewritten
    for b, mt in mtimes.items():
        assert os.path.getmtime(
            os.path.join(out_root, "data", f"bucket={b}")) == mt

    # output identical to an uninterrupted single-shot run
    resumed = _tuples(runner2.read_output().collect())
    single = _tuples(proofread(spark, docs, cfg, lex_bc).collect())
    assert resumed == single

    # lineage: one ok row per bucket, attempts all 1 (no partial replays)
    lineage = runner2.read_lineage().collect()
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
    """Empty buckets are still committed (directory, marker, a
    ``doc_count = 0`` lineage row), and an all-empty output root still
    reads back as 0 rows with the output's columns."""
    docs = spark.read.parquet(f"{corpus_small}/documents.parquet")
    first = docs.select("doc_id").first()["doc_id"]
    docs = docs.filter(F.col("doc_id") == first) if n_docs else \
        docs.filter(F.lit(False))
    cfg = RunConfig(run_id="r1", num_buckets=num_buckets)
    out_root = str(tmp_path / "out")
    runner = ResumableRunner(spark, out_root, cfg,
                             broadcast_lexicon(spark, base_lexicon))
    runner.run(docs)

    assert runner.done_buckets() == set(range(num_buckets))
    for b in range(num_buckets):
        assert os.path.isdir(os.path.join(out_root, "data", f"bucket={b}"))
    lineage = runner.read_lineage().collect()
    assert sorted(r["partition_id"] for r in lineage) == \
        list(range(num_buckets))
    assert sorted(r["doc_count"] for r in lineage) == \
        [0] * (num_buckets - n_docs) + [1] * n_docs
    out = runner.read_output()
    assert out.columns == ["doc_id", "spans", "bucket"]
    assert [r["doc_id"] for r in out.collect()] == [first] * n_docs


def test_lineage_format_compat(spark, corpus_small, base_lexicon, tmp_path):
    """A root half done by the per-bucket runner, whose lineage rows were
    one-row Spark writes, resumes under the driver-written lineage files:
    both kinds read as one table, old rows count as prior attempts, and a
    bucket replayed after its rename but before its marker gets attempt 2
    and wins the dedupe."""
    docs = (spark.read.parquet(f"{corpus_small}/documents.parquet")
            .limit(40).cache())
    lex_bc = broadcast_lexicon(spark, base_lexicon)
    old_cfg = RunConfig(run_id="old", num_buckets=4)
    out_root = str(tmp_path / "out")
    old = ResumableRunner(spark, out_root, old_cfg, lex_bc)

    bucketed = docs.withColumn("b", bucket_col(4))
    for b in (0, 1):
        out = proofread(spark, bucketed.filter(F.col("b") == b).drop("b"),
                        old_cfg, lex_bc).cache()
        (out.drop("span_count", "corrections", "flagged")
         .write.parquet(os.path.join(out_root, "data", f"bucket={b}")))
        sums = out.agg(F.count("*").alias("doc_count"),
                       *[F.sum(m).alias(m) for m in
                         ("span_count", "corrections", "flagged")]).first()
        spark.createDataFrame([{
            "run_id": "old", "partition_id": b,
            **{k: int(v or 0) for k, v in sums.asDict().items()},
            "status": "ok", "wall_ms": 1, "attempt": 1,
            "finished_at": datetime.now(timezone.utc),
        }], LINEAGE).coalesce(1).write.mode("append").parquet(
            old.lineage_dir)
        out.unpersist()
    # bucket 0 committed; bucket 1 crashed between lineage row and marker
    with open(os.path.join(old.marker_dir, "0.done"), "w") as fh:
        fh.write("old")
    assert old._prior_attempts() == {0: 1, 1: 1}
    mtime0 = os.path.getmtime(os.path.join(out_root, "data", "bucket=0"))

    new = ResumableRunner(spark, out_root,
                          RunConfig(run_id="new", num_buckets=4), lex_bc)
    committed = new.run(docs)
    assert new.done_buckets() == {0, 1, 2, 3}
    assert os.path.getmtime(
        os.path.join(out_root, "data", "bucket=0")) == mtime0

    raw = spark.read.parquet(new.lineage_dir).collect()
    assert sorted((r["partition_id"], r["attempt"], r["run_id"])
                  for r in raw) == [(0, 1, "old"), (1, 1, "old"),
                                    (1, 2, "new"), (2, 1, "new"),
                                    (3, 1, "new")]
    latest = {r["partition_id"]: r for r in new.read_lineage().collect()}
    assert (latest[1]["attempt"], latest[1]["run_id"]) == (2, "new")
    assert sum(r["doc_count"] for r in latest.values()) == 40
    # run() reports the docs of the buckets it committed, not bucket 0's
    assert committed == sum(latest[b]["doc_count"] for b in (1, 2, 3))
    assert new._prior_attempts() == {0: 1, 1: 2, 2: 1, 3: 1}

    resumed = _tuples(new.read_output().collect())
    assert resumed == _tuples(proofread(spark, docs, old_cfg,
                                        lex_bc).collect())


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
    assert r16.done_buckets() == set(range(16))
    assert r16.read_output().count() == 40

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
    assert r16.done_buckets() == set(range(16))
    assert r16.read_output().count() == 40

    calls.clear()
    r6 = ResumableRunner(spark, str(tmp_path / "b6"),
                         RunConfig(run_id="r", num_buckets=6), lex_bc)
    with pytest.raises(RuntimeError, match="injected failure"):
        r6.run(docs, fail_after=3)
    assert len(calls) == 1
    assert len(r6.done_buckets()) == 3


def test_hash_version_guard(spark, base_lexicon, tmp_path):
    """An output root bucketed under a different doc_id hash must refuse
    to resume (mixing layouts silently skips/duplicates docs)."""
    from ocr_proofreader_spark.operators.resume import BUCKET_HASH_VERSION
    cfg = RunConfig(run_id="r1", num_buckets=4)
    lex_bc = broadcast_lexicon(spark, base_lexicon)
    out_root = str(tmp_path / "out")

    r1 = ResumableRunner(spark, out_root, cfg, lex_bc)
    vfile = os.path.join(r1.marker_dir, "_HASH_VERSION")
    with open(vfile) as fh:
        assert fh.read() == BUCKET_HASH_VERSION   # stamped on first init
    ResumableRunner(spark, out_root, cfg, lex_bc)  # same version: fine

    with open(vfile, "w") as fh:
        fh.write("xxhash64-v0")
    with pytest.raises(RuntimeError, match="bucketed with hash"):
        ResumableRunner(spark, out_root, cfg, lex_bc)

    # pre-stamp layout: markers exist but no version file
    os.remove(vfile)
    with open(os.path.join(r1.marker_dir, "0.done"), "w") as fh:
        fh.write("r0")
    with pytest.raises(RuntimeError, match="no _HASH_VERSION"):
        ResumableRunner(spark, out_root, cfg, lex_bc)
