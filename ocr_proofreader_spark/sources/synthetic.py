"""S18: distributed synthetic-corpus generation.

``fixtures/gen.py`` seeds each doc independently
(Random(seed*1_000_003 + i)), so generation parallelizes perfectly: every
executor generates its own id-range with no coordination, and the output
is byte-identical for any partitioning."""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ocr_proofreader_spark.schemas import DOCUMENTS_IN

SEED = 42   # the generator seed every bench corpus is built from


def generate_corpus(spark: SparkSession, n_docs: int) -> DataFrame:
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from fixtures.gen import CorpusGenerator
        gen = CorpusGenerator(seed=SEED)
        for pdf in batches:
            # validate=False: gen_doc's default re-runs the rules on every
            # doc to check it, which would slow generation for bench.py
            out = [gen.gen_doc(int(i), validate=False)[:2]
                   for i in pdf["id"]]
            yield pd.DataFrame({"doc_id": [r[0] for r in out],
                                "spans": [r[1] for r in out]})

    partitions = int(spark.conf.get("spark.sql.shuffle.partitions",
                                    "32")) * 4
    return (spark.range(n_docs)
            .repartition(partitions)
            .mapInPandas(fn, DOCUMENTS_IN))


def ensure_corpus_parquet(spark: SparkSession, cache_dir: str,
                          n_docs: int) -> str:
    """Generate (once, cached) a bench corpus; returns the parquet path.

    The cached table persists an ``n_spans`` statistics column next to
    the spans — exactly the at-ingest column operators/proofread.py
    recommends for 100 TB inputs: the fast/skew branch split predicate
    then reaches the parquet scan as a pushed filter and row-group
    min/max stats prune the (normally empty) skew branch's second scan
    instead of re-decoding every spans cell to evaluate size(spans)
    (tests/test_plans.py::test_n_spans_column_prunes_branch_scans pins
    the pushdown both ways and byte-identical output)."""
    from pyspark.sql import functions as F
    path = os.path.join(cache_dir, f"synth_{n_docs}_{SEED}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        (generate_corpus(spark, n_docs)
         .withColumn("n_spans", F.size("spans"))
         .write.mode("overwrite").parquet(path))
    return path
