"""The flagship proofreading dataflow (SURVEY.md S1-S14).

Two physical strategies behind one logical operator:

* **Fast path** (the 99.9% of docs below ``chunk_threshold_spans``):
  a single ``mapInPandas`` pass — per-book word frequencies, the full
  R1-R4 correction chain, and R5/R6 re-segmentation all happen doc-locally,
  so the plan is SHUFFLE-FREE and embarrassingly parallel.  At 10^12 docs
  this is the property that matters: throughput scales linearly with
  executors because no stage exchanges data.

* **Skew path** (very long books, BASELINE.json:6): each book is sliced
  into chunk rows that the fast path's correction loop corrects in
  parallel (corrections are span-local given the book's frequency map,
  rule R0, which a distributed groupBy builds and broadcast-joins onto
  the chunks); only the cheap, linear R5/R6 segmentation runs per-doc.
  Shuffles touch only the rare giant books, never the bulk of the data.

Input docs may carry extra columns; only (doc_id, spans) are consumed.
"""

from __future__ import annotations

from itertools import repeat
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_proofreader_spark import lexicon as lexmod
from ocr_proofreader_spark.config import RunConfig
from ocr_proofreader_spark.functions.rules import DocProofreader
from ocr_proofreader_spark.operators.word_freq import word_freq
from ocr_proofreader_spark.partitioning import spread_input
from ocr_proofreader_spark.schemas import (DOCUMENTS_IN,
                                           DOCUMENTS_OUT_METRICS)

# skew-path chunk rows: a slice of one book's spans + its R2-R4 counts
_CORRECTED_CHUNK = T.StructType(DOCUMENTS_IN.fields + [
    DOCUMENTS_OUT_METRICS["corrections"], DOCUMENTS_OUT_METRICS["flagged"]])


def _out_pdf(rows: list) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=["doc_id", "spans", "span_count",
                                       "corrections", "flagged"])


def _span_dicts(out: list) -> list[dict]:
    return [{"kind": k, "text": t, "media_ref": m, "order": o}
            for k, t, m, o in out]


def _langs(pdf: pd.DataFrame):
    return pdf["lang"] if "lang" in pdf.columns else repeat(None)


def _make_fast_fn(lex_bc):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, spans, lang in zip(pdf["doc_id"], pdf["spans"],
                                           _langs(pdf)):
                # per-doc lexicon select: a cached-index dict probe, so
                # multilingual batches cost the same as monolingual ones
                pr = DocProofreader(lexmod.get_index(lex_bc, lang))
                out, n_in = pr.run(spans)
                rows.append((doc_id, _span_dicts(out), n_in,
                             pr.corrections, pr.flagged))
            yield _out_pdf(rows)
    return fn


def rebalance(docs: DataFrame, cfg: RunConfig) -> DataFrame:
    """S4 placement: hash repartition by doc_id into
    ``cfg.rebalance_partitions`` through the one placement guard
    (:func:`partitioning.spread_input`), so it fires only for inputs
    narrower than the session parallelism; ``None`` leaves the input.

    Hash, not range, partitioning: a range partitioning's
    boundary-sampling job re-executes the whole child plan (a second
    full scan of the spans payload) before the real exchange (r6)."""
    if not cfg.rebalance_partitions:
        return docs
    return spread_input(docs, "doc_id", partitions=cfg.rebalance_partitions)


def proofread_fast(docs: DataFrame, lex_bc, cfg: RunConfig) -> DataFrame:
    """Shuffle-free path: one Arrow-vectorized pass per document."""
    cols = ["doc_id", "spans"] + (["lang"] if "lang" in docs.columns
                                  else [])
    return (rebalance(docs.select(*cols), cfg)
            .mapInPandas(_make_fast_fn(lex_bc),
                         DOCUMENTS_OUT_METRICS))


# --------------------------------------------------------------------------
# skew path


def _make_correct_fn(lex_bc):
    """R2-R4 over one chunk row of a giant book, given the book's freq
    map (rule R0): one ``DocProofreader`` per chunk."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, spans, lang, words, counts in zip(
                    pdf["doc_id"], pdf["spans"], _langs(pdf),
                    pdf["freq_words"], pdf["freq_counts"]):
                freq = dict(zip(words, counts)) if words is not None else {}
                pr = DocProofreader(lexmod.get_index(lex_bc, lang),
                                    freq=freq)
                rows.append((doc_id, pr.correct(spans), pr.corrections,
                             pr.flagged))
            yield pd.DataFrame(rows, columns=["doc_id", "spans",
                                              "corrections", "flagged"])
    return fn


def _make_segment_fn():
    """Per-doc R5/R6 segmentation over a doc's corrected chunks.

    Runs as grouped applyInPandas: cheap linear string work, no spell
    scoring — acceptable as one task even for a giant book."""
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        spans = sorted((sp for chunk in pdf["spans"] for sp in chunk),
                       key=lambda sp: sp["offset"])
        out = DocProofreader.segment(spans)
        return _out_pdf([(pdf["doc_id"].iloc[0], _span_dicts(out),
                          len(spans),
                          int(pdf["corrections"].sum()),
                          int(pdf["flagged"].sum()))])
    return fn


def proofread_chunked(spark: SparkSession, docs: DataFrame, lex_bc,
                      cfg: RunConfig) -> DataFrame:
    """Skew path for very long books (rule R0 makes this exact)."""
    corrected = chunked_corrected_spans(spark, docs, lex_bc, cfg)
    # per-doc linear segmentation (R5/R6)
    return corrected.groupBy("doc_id").applyInPandas(
        _make_segment_fn(), DOCUMENTS_OUT_METRICS)


def chunked_corrected_spans(spark: SparkSession, docs: DataFrame, lex_bc,
                            cfg: RunConfig) -> DataFrame:
    """The distributed CORRECTION stage of the skew path: slice each
    book JVM-side into ``spark.sql.shuffle.partitions`` chunk rows,
    broadcast-join the per-book freq maps onto the chunks, spread the
    chunks round-robin and correct each chunk in its own task.  The map
    crosses the shuffle and the Arrow boundary once per chunk.  Exposed
    separately so tests can pin that a giant book's spell-scoring work
    fans out over many tasks (only the cheap linear R5/R6 segmentation
    in :func:`proofread_chunked` runs as one task per doc)."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    step = f"cast(ceil(size(spans) / {n_part}) as int)"
    chunks = docs.select(
        "doc_id", *(["lang"] if "lang" in docs.columns else []),
        F.explode(F.expr(f"transform(sequence(1, size(spans), {step}), "
                         f"i -> slice(spans, i, {step}))")).alias("spans"))

    # distributed per-book word frequencies over RAW text (S10
    # semantics): the derived word_freq table, tokenized JVM-side
    freq_maps = (word_freq(docs).groupBy("doc_id")
                 .agg(F.collect_list("word").alias("freq_words"),
                      F.collect_list("freq").alias("freq_counts")))

    # keyless round-robin: one book's chunks land one per partition;
    # placement cannot change the output
    return (chunks
            .join(F.broadcast(freq_maps), "doc_id", "left")
            .repartition(n_part)
            .mapInPandas(_make_correct_fn(lex_bc),
                         _CORRECTED_CHUNK))


# --------------------------------------------------------------------------
# the public operator


def proofread(spark: SparkSession, docs: DataFrame,
              cfg: RunConfig, lex_bc) -> DataFrame:
    """Proofread a documents table -> DOCUMENTS_OUT_METRICS rows.

    NOTE ON THE DOUBLE SCAN: the fast/skew split predicate
    ``size(spans) > threshold`` cannot be pushed into a parquet scan.  At
    sandbox scale the second scan is free; at 100 TB the input table should
    persist an ``n_spans`` (or byte-size) column at ingest so both branch
    filters prune row groups via min/max stats — the operator uses the
    persisted column automatically when present."""
    if cfg.chunk_threshold_spans is None:
        # caller guarantees no doc can reach the skew threshold (e.g. a
        # derivation that bounds span counts): the union with an
        # always-empty chunked branch would still pay the branch's
        # second scan — for derived inputs a second full mapInPandas
        # derivation pass — plus its five empty-exchange stages (r6
        # measurement; guide section 1.2: don't compute what you throw
        # away).  Equivalence when the bound holds is pinned by
        # tests/test_skew.py::test_threshold_none_equals_union.
        return proofread_fast(docs, lex_bc, cfg)
    size_col = (F.col("n_spans") if "n_spans" in docs.columns
                else F.size("spans"))
    big = docs.filter(size_col > cfg.chunk_threshold_spans)
    if "n_spans" in docs.columns and big.isEmpty():
        # Giant books are rare: most runs carry NONE, yet the union arm
        # still costs the chunked plan's two extra scans and ~5 empty
        # exchange stages (~0.6 s/bench run, r6).  With a persisted
        # n_spans column the emptiness probe is one pruned footer-stats
        # scan with LIMIT 1 — row groups whose max(n_spans) is under the
        # threshold are skipped without decoding a single spans cell —
        # so probing costs ~nothing at any scale, and is only attempted
        # when the column (and therefore the pushdown) exists.  The fast
        # path then reads the UNFILTERED frame: a stale probe (a giant
        # doc landing after it ran) costs speed, never rows.
        return proofread_fast(docs, lex_bc, cfg)
    small = docs.filter(size_col <= cfg.chunk_threshold_spans)
    return proofread_fast(small, lex_bc, cfg).unionByName(
        proofread_chunked(spark, big, lex_bc, cfg))
