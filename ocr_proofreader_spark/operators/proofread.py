"""The flagship proofreading dataflow (SURVEY.md S1-S14).

Two physical strategies behind one logical operator:

* **Fast path** (the 99.9% of docs below ``chunk_threshold_spans``):
  a single ``mapInPandas`` pass — per-book word frequencies, the full
  R1-R4 correction chain, and R5/R6 re-segmentation all happen doc-locally,
  so the plan is SHUFFLE-FREE and embarrassingly parallel.  At 10^12 docs
  this is the property that matters: throughput scales linearly with
  executors because no stage exchanges data.

* **Skew path** (very long books, BASELINE.json:6): spans are exploded and
  corrected in parallel across the cluster (corrections are span-local,
  rule R0), with the per-book word-frequency map built by a distributed
  groupBy and broadcast-joined back to the spans; only the cheap, linear
  R5/R6 segmentation runs per-doc.  Shuffles touch only the rare giant
  books, never the bulk of the data.

Input docs may carry extra columns; only (doc_id, spans) are consumed.
"""

from __future__ import annotations

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
from ocr_proofreader_spark.schemas import DOCUMENTS_OUT_METRICS

# chunked-path intermediate schemas
_CORRECTED_SPAN = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("offset", T.IntegerType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("media_ref", T.StringType(), True),
    T.StructField("corrections", T.IntegerType(), False),
    T.StructField("flagged", T.IntegerType(), False),
])


def _out_pdf(rows: list) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=["doc_id", "spans", "span_count",
                                       "corrections", "flagged"])


def _span_dicts(out: list) -> list[dict]:
    return [{"kind": k, "text": t, "media_ref": m, "order": o}
            for k, t, m, o in out]


def _make_fast_fn(lex_bc, freq_k: int):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            langs = pdf["lang"] if "lang" in pdf.columns else None
            rows = []
            for i, (doc_id, spans) in enumerate(zip(pdf["doc_id"],
                                                    pdf["spans"])):
                # per-doc lexicon select: a cached-index dict probe, so
                # multilingual batches cost the same as monolingual ones
                idx = lexmod.get_index(
                    lex_bc, langs.iloc[i] if langs is not None else None)
                pr = DocProofreader(idx, freq_k=freq_k)
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
            .mapInPandas(_make_fast_fn(lex_bc, cfg.freq_k),
                         DOCUMENTS_OUT_METRICS))


# --------------------------------------------------------------------------
# skew path


def _make_correct_fn(lex_bc, freq_k: int):
    """Span-local correction (R1-R4) with an injected per-doc freq map."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        readers: dict[str, DocProofreader] = {}
        for pdf in batches:
            out_rows = []
            for row in pdf.itertuples(index=False):
                if row.kind != "text" or not row.text:
                    out_rows.append((row.doc_id, row.offset, row.kind,
                                     row.text, row.media_ref, 0, 0))
                    continue
                pr = readers.get(row.doc_id)
                if pr is None:
                    freq = dict(zip(row.freq_words, row.freq_counts)) \
                        if row.freq_words is not None else {}
                    idx = lexmod.get_index(lex_bc,
                                           getattr(row, "lang", None))
                    pr = DocProofreader(idx, freq_k=freq_k, freq=freq)
                    readers[row.doc_id] = pr
                c0, f0 = pr.corrections, pr.flagged
                out_rows.append((row.doc_id, row.offset, "text",
                                 pr.correct_span(row.text), row.media_ref,
                                 pr.corrections - c0, pr.flagged - f0))
            yield pd.DataFrame(out_rows, columns=[
                "doc_id", "offset", "kind", "text", "media_ref",
                "corrections", "flagged"])
    return fn


def _make_segment_fn():
    """Per-doc R5/R6 segmentation over already-corrected spans.

    Runs as grouped applyInPandas: cheap linear string work, no spell
    scoring — acceptable as one task even for a giant book."""
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("offset")
        out = DocProofreader.segment(
            zip(pdf["kind"], pdf["text"], pdf["media_ref"]))
        return _out_pdf([(pdf["doc_id"].iloc[0], _span_dicts(out),
                          len(pdf),
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
    """The distributed CORRECTION stage of the skew path: explode to
    spans, build per-book frequencies JVM-side, broadcast-join the freq
    maps, spread spans across the cluster on (doc_id, offset) and
    correct span-locally.  Exposed separately so tests can pin that a
    giant book's expensive spell-scoring work really does fan out over
    many tasks (only the cheap linear R5/R6 segmentation in
    :func:`proofread_chunked` runs as one task per doc)."""
    lang_cols = ([F.col("lang")] if "lang" in docs.columns else [])
    spans = docs.select(
        "doc_id", *lang_cols,
        F.posexplode("spans").alias("idx", "span")).select(
        "doc_id", *lang_cols,
        F.col("span.offset").alias("offset"),
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"))

    # distributed per-book word frequencies over RAW text (S10
    # semantics): the derived word_freq table, tokenized JVM-side
    freq_maps = (word_freq(docs).groupBy("doc_id")
                 .agg(F.collect_list("word").alias("freq_words"),
                      F.collect_list("freq").alias("freq_counts")))

    # broadcast-join the (few) giant books' freq maps onto their spans,
    # spread spans across the cluster, correct span-locally
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return (spans
            .join(F.broadcast(freq_maps), "doc_id", "left")
            .repartition(n_part, "doc_id", "offset")
            .mapInPandas(_make_correct_fn(lex_bc, cfg.freq_k),
                         _CORRECTED_SPAN))


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
    if "n_spans" in docs.columns and not docs.isStreaming \
            and big.isEmpty():
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
