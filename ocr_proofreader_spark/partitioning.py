"""Scale-adaptive input spreading (spark_optimization_guide section 2.5,
"input skew").

A parquet scan parallelizes at row-group granularity: a table that
arrives as one small file (or one giant row group) produces ONE scan
task, and every narrow operator stacked on top of it — token explodes,
per-row md5s, Arrow-batched Python passes — serializes on one core no
matter how many the session has.  ``spread_input`` hash-repartitions the
frame, but only when the scan is actually narrower than the session's
default parallelism: at production scale the input has thousands of
splits, the guard is false, and no shuffle is added.  The keys are the
frame's own stable id (callers pass it explicitly) so placement is
deterministic under task retry (guide section 2.5 on rand()-derived
keys; SPARK-38388).  This is the engine's one placement guard; the
flagship's S4 ``operators.proofread.rebalance`` delegates to it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_input(df: DataFrame, *keys: str,
                 partitions: int | None = None) -> DataFrame:
    """Repartition ``df`` by ``keys`` into ``partitions`` (default: the
    session parallelism) iff the plan has fewer than ``min(partitions,
    parallelism)`` splits; no-op otherwise."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    target = partitions or parallelism
    if df.rdd.getNumPartitions() >= min(target, parallelism):
        return df
    return df.repartition(target, *keys) if keys else df.repartition(target)
