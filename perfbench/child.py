"""One benchmark run in a fresh process: set up, make the one timed call
into the program, collect what the checks and the trace need.

    python3 perfbench/child.py <spec.json>

``run.py`` writes the spec and starts this file once per run, so the
Python workers' per-process caches (``lexicon._INDEX_CACHE``,
``LexIndex.known_hits``) start cold, as they do under spark-submit.  The
result goes to ``spec["result"]`` as JSON.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from ocr_proofreader_spark.config import RunConfig  # noqa: E402
from ocr_proofreader_spark.jobs.proofread_job import build_session  # noqa
from ocr_proofreader_spark.lexicon import (broadcast_lexicon,  # noqa: E402
                                           get_index, load_base_lexicon)
from trace_layers import job_group  # noqa: E402

SETUPS = 3  # set-ups per untraced run; setup_s is their median


def _warm(lex_bc):
    """mapInPandas body that starts a Python worker per task and, when
    given a lexicon broadcast, builds its per-worker index."""
    def fn(batches):
        for pdf in batches:
            if lex_bc is not None:
                get_index(lex_bc)
            yield pdf
    return fn


def setup(spec: dict):
    """Session start, lexicon load and broadcast, warm-up -> (spark,
    lex_bc, timings).  Every session comes from the job's own
    ``build_session``."""
    t0 = time.perf_counter()
    spark = build_session(f"perfbench-{spec['workload']}",
                          master=f"local[{spec['cores']}]")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    lex_bc, t_load = None, 0.0
    if spec.get("lexicon"):
        base = load_base_lexicon(spec["lexicon"])
        t_load = time.perf_counter() - t1
        lex_bc = broadcast_lexicon(spark, base)
    t2 = time.perf_counter()
    with job_group(spark, "perfbench.setup"):
        n = spec["cores"]
        (spark.range(n, numPartitions=n)
         .mapInPandas(_warm(lex_bc), "id long").collect())
    t3 = time.perf_counter()
    return spark, lex_bc, {"session_s": t1 - t0, "lexicon_load_s": t_load,
                           "broadcast_s": t2 - t1 - t_load,
                           "warmup_s": t3 - t2, "setup_s": t3 - t0}


# -- timed calls ---------------------------------------------------------------


def timed_job(spark, lex_bc, spec: dict) -> dict:
    from ocr_proofreader_spark.jobs import proofread_job
    argv = ["--input", spec["input"], "--output", spec["out"],
            "--run-id", "bench"]
    buf = io.StringIO()
    t0 = time.perf_counter()
    with job_group(spark, "perfbench.timed"), contextlib.redirect_stdout(buf):
        proofread_job.main(argv, spark=spark)
    wall = time.perf_counter() - t0
    job_json = json.loads(buf.getvalue().strip().splitlines()[-1])
    return {"wall_s": wall, "job": job_json}


def timed_proofread(spark, lex_bc, spec: dict) -> dict:
    from ocr_proofreader_spark.operators.proofread import proofread
    t0 = time.perf_counter()
    with job_group(spark, "perfbench.timed"):
        docs = spark.read.parquet(spec["input"])
        out = proofread(spark, docs, job_config(spark), lex_bc)
        t_plan = time.perf_counter() - t0
        (out.drop("span_count", "corrections", "flagged")
         .write.mode("overwrite").parquet(os.path.join(spec["out"], "data")))
    return {"wall_s": time.perf_counter() - t0, "plan_s": t_plan}


TIMED = {"job": timed_job, "proofread": timed_proofread}


def job_config(spark) -> RunConfig:
    """The RunConfig ``proofread_job.main`` builds for a session."""
    return RunConfig(rebalance_partitions=int(
        spark.conf.get("spark.sql.shuffle.partitions")))


# -- untimed collection for the checks ------------------------------------------


def digest(spark, path: str) -> dict:
    """Order-insensitive output digest: bit_xor of per-row xxhash64, as
    ``scripts/bench_job.py`` computes it."""
    from pyspark.sql import functions as F
    row = (spark.read.parquet(path)
           .select(F.xxhash64(F.col("doc_id"), F.to_json(F.col("spans")))
                   .alias("h"))
           .agg(F.expr("bit_xor(h)").alias("d"), F.count("*").alias("n"))
           .first())
    return {"digest": int(row["d"] or 0), "rows": int(row["n"])}


def confs(spark, spec: dict) -> dict:
    c, sc_conf = spark.conf, spark.sparkContext.getConf()
    return {"cores": spec["cores"],
            "master": spark.sparkContext.master,
            "maxPartitionBytes": c.get("spark.sql.files.maxPartitionBytes"),
            "shuffle_partitions": c.get("spark.sql.shuffle.partitions"),
            "arrow_batch": c.get(
                "spark.sql.execution.arrow.maxRecordsPerBatch"),
            "SPARK_GRAFT_MAX_PARTITION_BYTES_set":
                "SPARK_GRAFT_MAX_PARTITION_BYTES" in os.environ,
            "event_log": sc_conf.get("spark.eventLog.enabled", "false"),
            "udf_profiler": sc_conf.get("spark.sql.pyspark.udf.profiler",
                                        "off")}


def main(spec_path: str) -> None:
    with open(spec_path) as fh:
        spec = json.load(fh)
    setups = []
    n_setups = spec.get("setups", SETUPS)
    for k in range(n_setups):
        spark, lex_bc, t = setup(spec)
        setups.append(t)
        if k < n_setups - 1:
            spark.stop()
    res: dict = {"setups": setups,
                 "setup_s": statistics.median(s["setup_s"] for s in setups),
                 "confs": confs(spark, spec)}
    res.update(TIMED[spec["call"]](spark, lex_bc, spec))
    res["digest"] = digest(spark, os.path.join(spec["out"], "data"))
    if spec["trace"]:
        import trace_layers
        res["trace"] = trace_layers.collect(spark, lex_bc, spec,
                                            job_config(spark))
    spark.stop()
    with open(spec["result"], "w") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    main(sys.argv[1])
