"""EP1: the production proofreading job, run via spark-submit --py-files.

    spark-submit --master local[32] --py-files dist/engine.zip \
        ocr_proofreader_spark/jobs/proofread_job.py \
        --input <documents.parquet> --output <out_root> \
        [--num-buckets N] [--lexicon LANG=PATH ...]

Reads an interleaved documents table, proofreads it (fast path + skew
path), writes proofread docs + word_freq + lexicon derived tables, with
per-bucket lineage, and prints one JSON result line on stdout (SURVEY.md
EP1).  Resume is automatic: a re-run on the same ``--output`` proofreads
only the buckets that have no lineage row yet, and must use the same
``--num-buckets``.

The job runs two lanes at once: the resume run on the calling thread and
the derived tables (``word_freq``, then ``lexicon``) on one worker
thread, whose Spark jobs keep the caller's job group.  Both read only the
input and the lexicon, so the derived jobs fill the cores the run's
driver planning and small probe jobs leave idle.  The result line is
printed once both lanes have finished; ``proofread_sec`` and
``derived_sec`` are each timed within their own lane, so they overlap
and their sum can exceed ``wall_sec``.  A run that fails raises its own
error once the derived lane has finished, even if that lane failed too;
a derived-lane error is raised only when the run succeeded.  A killed
job may leave this run's derived tables beside a partial output: they
come from the input alone, and the resume rewrites them."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))))

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from ocr_proofreader_spark.config import RunConfig
from ocr_proofreader_spark.lexicon import broadcast_lexicons, load_lexicons
from ocr_proofreader_spark.operators.resume import ResumableRunner
from ocr_proofreader_spark.operators.word_freq import lexicon_table, word_freq


def build_session(app: str, master: str | None = None,
                  shuffle_partitions: int | None = None) -> SparkSession:
    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
    cores = shuffle_partitions or os.cpu_count() or 8
    return (b
            .config("spark.sql.shuffle.partitions", str(cores))
            .config("spark.driver.memory", "24g")
            # python-heavy scans want more, smaller input splits than the
            # 128MB default so no core idles behind a straggler file;
            # 8m ~= two scheduling waves over the bench corpus, which
            # measured ~18% faster than 16m for the Arrow/Python stage
            # (r6; 4m regressed — per-task overhead wins).  Env knob so
            # a JVM-scan-heavy deployment can restore a larger split
            # without editing code (guide sections 2.5/6.1)
            .config("spark.sql.files.maxPartitionBytes",
                    os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES",
                                   "8m"))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            # 1024 docs/batch ~= 3 MB of spans: one batch per typical
            # input split, so the Python chain sees whole-task batches
            # (guide section 4.2, keep batches big) while staying far
            # under Arrow's 2 GiB string-column cap for wide docs.
            # Measured r6: 256 -> 1024 is a small consistent win at the
            # bench corpus' ~625-doc splits (3 batch crossings -> 1)
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
            .config("spark.ui.enabled", "false")
            # PySpark wraps every Column and functions call to record its
            # DataFrame call site for error messages: a conf read and a
            # JVM origin set per call (two py4j round trips) and a stack
            # walk that imports IPython.  Off, the first bucket column
            # took 0.65 s instead of 1.12 s, each later one 5 ms instead
            # of 12 ms, and the driver kept 23 MB less RSS; the trade-off
            # is that an analysis error no longer names the Python line
            # that built the failing column
            .config("spark.python.sql.dataFrameDebugging.enabled", "false")
            .getOrCreate())


def write_derived(spark: SparkSession, docs: DataFrame, base: frozenset,
                  out_root: str) -> float:
    """Write the ``word_freq`` and ``lexicon`` tables under ``out_root``;
    returns the seconds it took."""
    t0 = time.time()
    wf_path = os.path.join(out_root, "word_freq")
    word_freq(docs).write.mode("overwrite").parquet(wf_path)
    lexicon_table(spark, base, spark.read.parquet(wf_path)
                  ).write.mode("overwrite").parquet(
        os.path.join(out_root, "lexicon"))
    return time.time() - t0


def main(argv: list[str] | None = None, spark=None) -> None:
    """CLI entry; pass ``spark`` to reuse an existing session (tests) —
    only a session this function created is stopped on exit."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--num-buckets", type=int, default=16)
    ap.add_argument("--master", default=None)
    ap.add_argument("--lexicon", action="append", default=None,
                    metavar="LANG=PATH",
                    help="per-language dictionary (repeatable; include "
                         "default=PATH); docs pick theirs via the input's "
                         "lang column")
    args = ap.parse_args(argv)
    lexicon_paths = {}
    if args.lexicon:
        bad = [s for s in args.lexicon if "=" not in s]
        if bad:
            ap.error(f"--lexicon expects LANG=PATH, got {bad[0]!r}")
        lexicon_paths = dict(s.split("=", 1) for s in args.lexicon)
        # fail fast here, not deep in an executor's KeyError: docs whose
        # lang has no dedicated dictionary fall back to 'default'
        if "default" not in lexicon_paths:
            ap.error("--lexicon map must include a default=PATH entry")

    own_session = spark is None
    if own_session:
        spark = build_session("ocr-proofread", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    cfg = RunConfig(run_id=args.run_id, num_buckets=args.num_buckets,
                    rebalance_partitions=int(
                        spark.conf.get("spark.sql.shuffle.partitions")))
    by_lang = load_lexicons(lexicon_paths or {"default": cfg.lexicon_path})
    lex_bc = broadcast_lexicons(spark, by_lang)

    docs = spark.read.parquet(args.input)
    t0 = time.time()
    runner = ResumableRunner(spark, args.output, cfg, lex_bc)
    # leaving the block joins the lane, so a failed run raises only after
    # it; the lane's own error is raised by result() when the run succeeded
    with ThreadPoolExecutor(max_workers=1) as lane:
        derived = lane.submit(inheritable_thread_target(spark)(
            write_derived), spark, docs, by_lang["default"], args.output)
        n_proofread = runner.run(docs)
        phase_b = time.time() - t0
        phase_a = derived.result()

    wall = time.time() - t0
    # the whole output's docs, from the lineage rows: no Spark job
    result = {"docs": sum(runner.committed().values()),
              "wall_sec": round(wall, 3),
              "proofread_sec": round(phase_b, 3),
              "derived_sec": round(phase_a, 3),
              # this run's docs only: a rerun on a finished root
              # commits none, whatever the output already holds
              "docs_per_sec": round(n_proofread / max(phase_b, 1e-9), 2),
              "shuffle_partitions":
                  spark.conf.get("spark.sql.shuffle.partitions")}
    print(json.dumps(result))
    if own_session:
        spark.stop()


if __name__ == "__main__":
    main()
