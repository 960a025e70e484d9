"""End-to-end corpus curation job (jobs/curate_job.py): the composed
quality -> line-dedup -> near-dup -> decontamination -> sampling chain
over the driver documents table."""

import json
import subprocess
import sys


def test_curate_chain_semantics(spark):
    """Stage accounting is monotone non-increasing, every surviving doc
    satisfies each stage's predicate, and the run is deterministic
    across partitionings (hash/rule-based stages, no RNG)."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from ocr_proofreader_spark.jobs.curate_job import curate
    from ocr_proofreader_spark.operators import training_ops as ops

    src = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(src):
        pytest.skip("driver testdata missing")
    docs = spark.read.parquet(src)
    # curate() leaves exactly one cached plan behind: the returned frame
    # (the caller owns it); every intermediate stage frame is released
    cache = spark._jsparkSession.sharedState().cacheManager()
    n_cached = cache.numCachedEntries()
    out, m = curate(spark, docs)
    assert cache.numCachedEntries() == n_cached + 1
    assert out.storageLevel.useMemory or out.storageLevel.useDisk
    order = ["input_docs", "after_quality_filter", "after_line_dedup",
             "after_near_dup", "after_decontamination",
             "after_stratified_sample"]
    vals = [m[k] for k in order]
    assert vals == sorted(vals, reverse=True), m
    assert m["after_stratified_sample"] > 0

    rows = out.collect()
    ids = {r["doc_id"] for r in rows}
    # survivors pass the quality filter (on ORIGINAL text) and the
    # sampling rule; no benchmark doc leaks through
    ok = {r["doc_id"] for r in ops.quality_filter(docs).collect()
          if r["accept"]}
    assert ids <= ok
    assert all(r["doc_id"] >= 5 for r in rows)
    samp = {r["doc_id"]: r["kept"]
            for r in ops.stratified_sample(docs).collect()}
    assert all(samp[i] for i in ids)
    # deterministic under repartitioning
    out2, m2 = curate(spark, docs.repartition(13))
    assert m2 == m
    assert {(r["doc_id"], r["text"]) for r in out2.collect()} == \
        {(r["doc_id"], r["text"]) for r in rows}
    out.unpersist()
    out2.unpersist()
    assert cache.numCachedEntries() == n_cached


def test_curate_cli(tmp_path):
    """The spark-submit surface: CLI writes the curated parquet and a
    JSON report whose counts agree with the output."""
    import os

    import pytest
    src = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(src):
        pytest.skip("driver testdata missing")
    outdir = str(tmp_path / "curated")
    report = str(tmp_path / "report.json")
    r = subprocess.run(
        [sys.executable, "-m", "ocr_proofreader_spark.jobs.curate_job",
         "--input", src, "--output", outdir, "--report", report,
         "--cpus", "4"],
        capture_output=True, text=True, cwd="/root/repo", timeout=420)
    assert r.returncode == 0, r.stderr[-2000:]
    m = json.loads(open(report).read())
    assert m["output_docs"] == m["after_stratified_sample"] > 0
