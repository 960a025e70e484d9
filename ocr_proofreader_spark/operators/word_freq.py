"""S10/S11: per-book word frequencies and the correction lexicon as
first-class derived datasets (BASELINE.json:6).

Pure DataFrame aggregations: Catalyst plans a partial+final hash aggregate
for the groupBy, so map-side combine keeps the shuffle small.  The R1
tokenizer runs as built-in regexp_extract_all + lower over
``functions/rules.py``'s character classes (each means the same as a
Java regex), so the whole stage stays inside whole-stage codegen — zero
Python."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_proofreader_spark.functions.rules import (ALPHA_CLASS, FREQ_K,
                                                   TOKEN_CLASS)


def r1_words(df: DataFrame, text: str, *keys: str) -> DataFrame:
    """df -> (*keys, word): one row per R1 token of column ``text``,
    lowercased after tokenizing, as ``refsem.book_word_freq`` counts.

    Lowering first is not the same tokenizer: a character outside the
    class whose lowercase is inside it (Ÿ, İ, the Kelvin sign) would
    join a token instead of splitting it.  regexp_extract_all on the
    class measured 7.8x faster than split on its complement plus a
    filter of the empty fragments, with identical output."""
    return (df
            .select(*keys, F.explode(F.regexp_extract_all(
                text, F.lit(f"[{TOKEN_CLASS}]+"), 0)).alias("word"))
            .withColumn("word", F.lower("word")))


def word_freq(docs: DataFrame) -> DataFrame:
    """documents(doc_id, spans) -> word_freq(doc_id, word, freq).

    Frequencies are counted over RAW (pre-correction) text span tokens,
    lowercased — the same signal the in-UDF scorer uses, so this table IS
    the engine's scoring input, materialized.

    Shape note (measured, r6): a single-generator rewrite — explode of
    ``flatten(transform(filter(spans, ...), s -> tokens(s.text)))`` —
    produces identical rows but was ~8% SLOWER at bench scale (HOF
    lambdas are interpreted per element, losing more than the skipped
    span-struct generator saves) and nested-schema pruning does not
    reach through the lambda anyway.  Keep the two codegen'd explodes."""
    spans = (docs.select("doc_id", F.explode("spans").alias("span"))
             .filter(F.col("span.kind") == "text"))
    return (r1_words(spans, "span.text", "doc_id")
            .groupBy("doc_id", "word")
            .agg(F.count("*").alias("freq")))


def lexicon_table(spark: SparkSession, base: frozenset,
                  wf: DataFrame) -> DataFrame:
    """S11: base dictionary UNION book-frequent words -> lexicon(word, source).

    Book-frequent = alphabetic and freq >= K within some book.  `distinct`
    is a hash aggregate.  The base side is built from a pandas frame,
    which Arrow turns into a LocalTableScan; a list of tuples plans a
    Scan ExistingRDD that the union and the anti-join each run again
    (measured 2-3x the write time)."""
    base_df = spark.createDataFrame(
        pd.DataFrame({"word": sorted(base), "source": "base"}),
        "word string, source string")
    frequent = (wf
                .filter((F.col("freq") >= FREQ_K)
                        # rlike finds, so anchor at both ends
                        & F.col("word").rlike(f"^[{ALPHA_CLASS}]+$"))
                .select("word").distinct()
                .join(base_df.select("word"), "word", "left_anti")
                .withColumn("source", F.lit("book_frequent")))
    return base_df.unionByName(frequent)
