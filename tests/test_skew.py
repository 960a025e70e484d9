"""Skew handling (SURVEY.md test 5.2-7): a giant book exceeds the chunk
threshold, routes through the skew path, and still matches the oracle."""

from pyspark.sql import functions as F

from fixtures.gen import CorpusGenerator
from ocr_proofreader_spark.config import RunConfig
from ocr_proofreader_spark.lexicon import broadcast_lexicon
from ocr_proofreader_spark.operators.proofread import proofread
from ocr_proofreader_spark.schemas import DOCUMENTS_IN
from oracle.refsem import proofread_document

GEN = CorpusGenerator(seed=42)


def _giant_doc(n_repeats: int = 120):
    """One book far above chunk_threshold_spans, built from fixture spans."""
    _, spans99, _ = GEN.gen_doc(99)  # the skewed fixture doc
    spans = []
    for r in range(n_repeats):
        for sp in spans99:
            spans.append({**sp, "offset": len(spans)})
    return spans


def test_giant_doc_routes_chunked_and_matches_oracle(spark, base_lexicon):
    """The giant book's spans arrive in a shuffled array order, so its
    chunks hold non-contiguous offsets: segmentation must restore the
    offset order across chunks."""
    import random

    spans = _giant_doc()
    random.Random(7).shuffle(spans)
    cfg = RunConfig(chunk_threshold_spans=4096)
    assert len(spans) > cfg.chunk_threshold_spans

    docs = spark.createDataFrame([("giant-1", spans)], DOCUMENTS_IN)
    lex_bc = broadcast_lexicon(spark, base_lexicon)
    out = proofread(spark, docs, cfg, lex_bc).collect()
    assert len(out) == 1
    got = [(s["kind"], s["text"], s["media_ref"], s["order"])
           for s in out[0]["spans"]]

    exp, _ = proofread_document(spans, base_lexicon, GEN.freq_k)
    exp = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in exp]
    assert got == exp


def test_small_docs_avoid_skew_branch_rows(spark, corpus_small,
                                           base_lexicon):
    """With the default threshold, the corpus' docs all take the fast
    path: the chunked branch contributes zero rows."""
    from ocr_proofreader_spark.operators.proofread import proofread_chunked
    docs = spark.read.parquet(f"{corpus_small}/documents.parquet")
    cfg = RunConfig()
    big = docs.filter(F.size("spans") > cfg.chunk_threshold_spans)
    lex_bc = broadcast_lexicon(spark, base_lexicon)
    assert proofread_chunked(spark, big, lex_bc, cfg).count() == 0


def test_giant_book_correction_spreads_across_tasks(spark, base_lexicon):
    """Scale evidence for the skew path (VERDICT r04 item 5): a single
    book 10x past the chunk threshold must have its expensive
    spell-scoring CORRECTION work spread across many tasks — one
    straggler task holding the whole book is exactly what the skew
    path exists to prevent.  Only the cheap linear R5/R6 segmentation
    may run as the single per-doc task, and it must stay a small
    fraction of end-to-end wall time."""
    import time

    from ocr_proofreader_spark.operators.proofread import (
        chunked_corrected_spans, proofread_chunked)

    cfg = RunConfig(chunk_threshold_spans=4096)
    spans = _giant_doc(n_repeats=820)          # ~10x the 4096 threshold
    assert len(spans) >= 10 * cfg.chunk_threshold_spans
    docs = spark.createDataFrame([("giant-10x", spans)], DOCUMENTS_IN)
    lex_bc = broadcast_lexicon(spark, base_lexicon)

    corrected = chunked_corrected_spans(spark, docs, lex_bc, cfg)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    t0 = time.monotonic()
    pids = (corrected.select(F.spark_partition_id().alias("pid"))
            .distinct().count())
    t_correct = time.monotonic() - t0
    # one row per chunk, at most one chunk per shuffle partition, and
    # the round-robin spread puts the book's chunks on ~all partitions
    assert corrected.count() <= n_part
    assert pids >= min(8, n_part), f"correction ran in {pids} task(s)"

    t0 = time.monotonic()
    out = proofread_chunked(spark, docs, lex_bc, cfg).collect()
    t_e2e = time.monotonic() - t0
    assert len(out) == 1 and out[0]["span_count"] == len(spans)
    # segmentation-on-one-task stays acceptable: the full pass (which
    # REPEATS correction + adds segmentation + reassembly) must not
    # blow up past a generous multiple of the correction stage alone —
    # a quadratic or driver-bound segmenter would
    assert t_e2e < 20 * max(t_correct, 1.0), (t_correct, t_e2e)


def test_threshold_none_equals_union(spark, corpus_small, base_lexicon):
    """r6: chunk_threshold_spans=None (caller guarantees no doc reaches
    any threshold) must be byte-identical to the default fast+skew
    union, while planning zero exchanges and a single scan."""
    import plan_shapes as P

    docs = spark.read.parquet(f"{corpus_small}/documents.parquet")
    lex_bc = broadcast_lexicon(spark, base_lexicon)
    out_none = proofread(spark, docs, RunConfig(chunk_threshold_spans=None),
                         lex_bc)
    out_union = proofread(spark, docs, RunConfig(), lex_bc)

    plan = P.physical_plan(out_none)
    assert P.count_exchanges(out_none) == 0
    assert plan.count("Scan parquet") == 1

    key = lambda r: r["doc_id"]  # noqa: E731
    a = sorted(out_none.collect(), key=key)
    b = sorted(out_union.collect(), key=key)
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_nspans_probe_drops_empty_skew_arm(spark, corpus_small,
                                           base_lexicon, tmp_path):
    """r6: when the input persists n_spans and the (pruned-footer-scan)
    emptiness probe finds no doc over the threshold, the plan must be
    the fast path alone — no union arm, no chunked-branch scans — and
    byte-identical to the full union."""
    import plan_shapes as P

    docs = spark.read.parquet(f"{corpus_small}/documents.parquet")
    dst = str(tmp_path / "docs_nspans")
    docs.withColumn("n_spans", F.size("spans")).write.parquet(dst)
    docs2 = spark.read.parquet(dst)
    lex_bc = broadcast_lexicon(spark, base_lexicon)

    out = proofread(spark, docs2, RunConfig(), lex_bc)
    plan = P.physical_plan(out)
    assert plan.count("Scan parquet") == 1
    assert "Union" not in plan

    key = lambda r: r["doc_id"]  # noqa: E731
    a = sorted(out.collect(), key=key)
    b = sorted(proofread(spark, docs, RunConfig(), lex_bc).collect(),
               key=key)
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_stale_probe_keeps_every_doc(spark, base_lexicon, monkeypatch):
    """A stale emptiness probe (it reports no giant doc, yet one is
    there) may cost speed but never rows: the fast path then reads the
    unfiltered input, so every input doc comes out, proofread as the
    oracle proofreads it."""
    rows = [GEN.gen_doc(i)[:2] for i in range(4)]
    cfg = RunConfig(chunk_threshold_spans=max(len(s) for _, s in rows))
    rows.append(("giant-1", _giant_doc(n_repeats=1)))
    docs = spark.createDataFrame(rows, DOCUMENTS_IN).withColumn(
        "n_spans", F.size("spans"))
    assert docs.filter(F.col("n_spans")
                       > cfg.chunk_threshold_spans).count() == 1

    monkeypatch.setattr(type(docs), "isEmpty", lambda self: True)
    lex_bc = broadcast_lexicon(spark, base_lexicon)
    out = {r["doc_id"]: r["spans"]
           for r in proofread(spark, docs, cfg, lex_bc).collect()}
    assert sorted(out) == sorted(doc_id for doc_id, _ in rows)
    for doc_id, spans in rows:
        exp, _ = proofread_document(spans, base_lexicon, GEN.freq_k)
        assert [(s["kind"], s["text"], s["media_ref"], s["order"])
                for s in out[doc_id]] == [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in exp], doc_id


def test_aqe_splits_hot_key_join(spark):
    """Runtime evidence for the r5 window-to-join rewrites (tfidf df,
    minhash bucket cap): the claim that a word-keyed JOIN skewed on a
    stopword is safe because AQE splits the hot partition — which a
    Window can never be.  A 9:1-hot-key join with production-shaped
    thresholds must execute with SortMergeJoin(skew=true) and a skewed
    AQEShuffleRead in the FINAL adaptive plan."""
    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.autoBroadcastJoinThreshold")}
    try:
        # scale the detection thresholds down with the test data size,
        # exactly as the production knobs scale with partition sizes
        spark.conf.set("spark.sql.adaptive.skewJoin."
                       "skewedPartitionThresholdInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive."
                       "advisoryPartitionSizeInBytes", "32KB")
        spark.conf.set("spark.sql.adaptive.skewJoin."
                       "skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(0, 400_000).select(
            F.when(F.col("id") % 10 < 9, F.lit("the"))
            .otherwise(F.concat(F.lit("w"),
                                (F.col("id") % 5000).cast("string")))
            .alias("word"), F.col("id"))
        right = spark.createDataFrame(
            [("the", 1)] + [(f"w{i}", 1) for i in range(5000)],
            "word string, df int")
        joined = left.join(right, "word")
        assert len(joined.collect()) == 400_000
        # the DataFrame's OWN query execution ran (collect above), so
        # its adaptive plan is final and reflects runtime decisions
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
        assert "skewed" in plan        # AQEShuffleRead ... skewed
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
