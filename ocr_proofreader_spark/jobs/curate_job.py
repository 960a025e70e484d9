"""End-to-end corpus CURATION job: the composition a training-data
team actually runs over the documents table, chaining the individual
operators this engine already verifies one-by-one:

    quality filter  ->  corpus line dedup (C4)  ->  near-dup document
    removal (MinHash-LSH clusters, keep one per cluster)  ->
    benchmark decontamination  ->  deterministic stratified sampling

Each stage is the already-contract-verified operator — this job adds
only composition, per-stage survivor accounting, and the parquet
sink.  Scale properties are inherited: every stage is partial-agg /
broadcast / blocked-join shaped (see each operator's docstring and
SCALE.md); the job introduces no new shuffle beyond the stages'.

Determinism: every stage is hash/rule-based (no RNG), so the final
corpus is byte-stable across partitionings and reruns — the property
the resume protocol (and any downstream training-data audit) needs.

CLI:
    spark-submit ... ocr_proofreader_spark/jobs/curate_job.py \\
        --input /data/documents.parquet --output /data/curated \\
        [--report /data/curated_report.json] [--cpus 8]
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def curate(spark: SparkSession, docs: DataFrame) -> tuple[DataFrame, dict]:
    """Run the full curation chain; returns (curated_docs, metrics).

    ``docs``: (doc_id, lang, text, ...).  Doc_ids below
    ``training_ops.BENCH_MAX_DOC`` form the decontamination benchmark
    set (a real deployment uses the eval-suite table instead).  The
    returned frame carries (doc_id, lang, text) with text LINE-DEDUPED and all
    filters applied; metrics counts survivors per stage.

    The returned frame is persisted (its survivor count and the
    caller's write are two actions over it) and every intermediate
    stage frame is already unpersisted: the caller owns the returned
    frame and should ``unpersist()`` it after its last action."""
    from ocr_proofreader_spark.operators import training_ops as ops

    metrics = {"input_docs": docs.count()}

    # Each stage frame is persisted before its survivor count: the
    # counts are separate actions, so without this every stage action
    # (and the final write) re-executed the WHOLE unpersisted chain —
    # including the iterative dedup_clusters — ~5x end to end (r6 fix
    # of the r5 ADVICE finding; guide section 5: cache only reused
    # frames, and these are each consumed twice).  MEMORY_AND_DISK
    # default spills rather than OOMs; a 100 TB deployment would
    # checkpoint each stage to the output table instead (the commit
    # pattern proofread_job already uses: rename the data into place,
    # then a row that records it).

    # 1. quality filter (C4/Gopher integer-threshold verdict)
    accepted = (docs.join(
        ops.quality_filter(docs).filter(F.col("accept"))
        .select("doc_id"), "doc_id", "left_semi")).persist()
    metrics["after_quality_filter"] = accepted.count()

    # 2. corpus-wide duplicate-line removal; docs reduced to nothing
    #    (every line seen elsewhere first) drop out entirely
    deduped_lines = (accepted
                     .join(ops.line_dedup_texts(accepted)
                           .filter(F.col("n_lines_kept") > 0)
                           .select("doc_id", "clean_text"), "doc_id")
                     .select("doc_id", "lang",
                             F.col("clean_text").alias("text"))).persist()
    metrics["after_line_dedup"] = deduped_lines.count()
    accepted.unpersist()

    # 3. near-duplicate DOCUMENT removal: MinHash-LSH candidate pairs
    #    -> connected components -> keep the cluster representative.
    #    dedup_clusters emits one row per doc (a doc with no near-dup
    #    is its own cluster and keeper); the anti-join drops the
    #    non-keepers.
    clusters = ops.dedup_clusters(deduped_lines)
    losers = clusters.filter(~F.col("is_keeper")).select("doc_id")
    unique_docs = deduped_lines.join(losers, "doc_id", "left_anti") \
        .persist()
    metrics["after_near_dup"] = unique_docs.count()
    deduped_lines.unpersist()

    # 4. benchmark decontamination (8-gram broadcast probe); the
    #    benchmark docs themselves are not training candidates
    cont = (ops.benchmark_contamination(unique_docs)
            .filter(F.col("contaminated")).select("doc_id"))
    clean = (unique_docs
             .filter(F.col("doc_id") >= ops.BENCH_MAX_DOC)
             .join(cont, "doc_id", "left_anti")).persist()
    metrics["after_decontamination"] = clean.count()
    unique_docs.unpersist()

    # 5. deterministic stratified sampling (per-language mix rates)
    sampled = (clean.join(
        ops.stratified_sample(clean).filter(F.col("kept"))
        .select("doc_id"), "doc_id", "left_semi")).persist()
    metrics["after_stratified_sample"] = sampled.count()
    clean.unpersist()
    return sampled, metrics


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--report", default=None)
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()

    from ocr_proofreader_spark.jobs.proofread_job import build_session
    spark = build_session("curate", master=f"local[{args.cpus}]",
                          shuffle_partitions=args.cpus)
    docs = spark.read.parquet(args.input)
    curated, metrics = curate(spark, docs)
    curated.write.mode("overwrite").parquet(args.output)
    curated.unpersist()
    metrics["output_docs"] = spark.read.parquet(args.output).count()
    line = json.dumps(metrics)
    print(line)
    if args.report:
        with open(args.report, "w") as fh:
            fh.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
