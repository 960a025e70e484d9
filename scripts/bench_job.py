"""One timed proofreading run for the scaling benchmark (S17).

Submitted via spark-submit --py-files dist/engine.zip at two parallelism
levels; prints JSON with proofread wall time, docs/sec, and an
order-insensitive output digest (bit_xor of per-doc xxhash64) proving the two
runs produced identical bytes (determinism check, SURVEY.md section 6),
plus the session confs in effect, read back from the session that ran.
The session comes from the production job's ``build_session``, so the
scaling numbers measure the system ``proofread_job`` runs."""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--out-json", required=True)
    args = ap.parse_args()

    from ocr_proofreader_spark.config import RunConfig
    from ocr_proofreader_spark.jobs.proofread_job import build_session
    from ocr_proofreader_spark.lexicon import (broadcast_lexicon,
                                               load_base_lexicon)
    from ocr_proofreader_spark.operators.proofread import proofread

    spark = build_session(f"scaling-bench-{args.cpus}",
                          shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(args.corpus)
    cfg = RunConfig(rebalance_partitions=args.cpus * 2)
    lex_bc = broadcast_lexicon(spark, load_base_lexicon(cfg.lexicon_path))

    # warm-up: JVM/Python-worker spin-up excluded from the measured run.
    # Spread the warm-up across one partition per core so EVERY Python
    # worker is live (imports done, broadcast lexicon unpickled) before
    # the clock starts — limit(64) alone warms only 1-2 workers.
    proofread(spark,
              docs.limit(8 * args.cpus).repartition(args.cpus),
              cfg, lex_bc).count()

    t0 = time.time()
    out = proofread(spark, docs, cfg, lex_bc)
    digest_row = (out
                  .select(F.xxhash64(F.col("doc_id"),
                                     F.to_json(F.col("spans")))
                          .alias("h"))
                  .agg(F.expr("bit_xor(h)").alias("digest"),
                       F.count("*").alias("docs"))
                  .first())
    wall = time.time() - t0

    result = {"cpus": args.cpus,
              "docs": int(digest_row["docs"]),
              "wall_sec": round(wall, 3),
              "docs_per_sec": round(digest_row["docs"] / wall, 1),
              "digest": int(digest_row["digest"]),
              "shuffle_partitions": int(
                  spark.conf.get("spark.sql.shuffle.partitions")),
              "max_partition_bytes": spark.conf.get(
                  "spark.sql.files.maxPartitionBytes"),
              "arrow_batch": int(spark.conf.get(
                  "spark.sql.execution.arrow.maxRecordsPerBatch")),
              "rebalance_partitions": cfg.rebalance_partitions}
    print(json.dumps(result))
    with open(args.out_json, "w") as fh:
        json.dump(result, fh)
    spark.stop()


if __name__ == "__main__":
    main()
