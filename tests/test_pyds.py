"""Spark-4 Python DataSource API connector (sources/pyds.py)."""

from pyspark.sql import functions as F


def _digest(df):
    return (df.select(F.xxhash64(F.to_json(F.struct("doc_id", "spans")))
                      .alias("h"))
            .agg(F.expr("bit_xor(h)")).collect()[0][0])


def test_synthetic_books_datasource(spark):
    """The registered connector plans explicit partitions, respects
    options, and produces a table byte-identical to the mapInPandas
    generator at ANY partition count (independent per-doc seeding) —
    the determinism the resume protocol and the bench digests rely
    on."""
    from ocr_proofreader_spark.sources.pyds import SyntheticBooksDataSource
    from ocr_proofreader_spark.sources.synthetic import generate_corpus

    spark.dataSource.register(SyntheticBooksDataSource)
    via_ds = (spark.read.format("synthetic_books")
              .option("n_docs", 150).option("partitions", 7).load())
    assert via_ds.count() == 150
    assert via_ds.rdd.getNumPartitions() == 7
    d1 = _digest(via_ds)
    d2 = _digest(spark.read.format("synthetic_books")
                 .option("n_docs", 150).option("partitions", 3).load())
    d3 = _digest(generate_corpus(spark, 150, partitions=11))
    assert d1 == d2 == d3
    # n_docs=0 is a valid empty scan, not a planning-time crash
    assert (spark.read.format("synthetic_books")
            .option("n_docs", 0).load().count()) == 0
    # the connector output feeds the pipeline like any other scan
    from ocr_proofreader_spark.config import RunConfig
    from ocr_proofreader_spark.lexicon import (broadcast_lexicon,
                                               load_base_lexicon)
    from ocr_proofreader_spark.operators.proofread import proofread
    cfg = RunConfig()
    lex_bc = broadcast_lexicon(spark, load_base_lexicon(cfg.lexicon_path))
    out = proofread(spark, via_ds, cfg, lex_bc)
    assert out.count() == 150


def test_synthetic_books_stream_source_resumes_exactly_once(
        spark, tmp_path):
    """The custom Python STREAMING source: offset-counter micro-batches
    drain to parquet; killing the query mid-stream and restarting from
    the checkpoint emits the REMAINING docs only — 120 distinct doc_ids
    exactly once, digest-identical to the batch connector."""
    import time

    from pyspark.sql import functions as F

    from ocr_proofreader_spark.sources.pyds import (
        SyntheticBooksDataSource, SyntheticBooksStreamSource)

    spark.dataSource.register(SyntheticBooksStreamSource)
    spark.dataSource.register(SyntheticBooksDataSource)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def start():
        return (spark.readStream.format("synthetic_books_stream")
                .option("n_docs", 120).option("batch_docs", 37).load()
                .writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", ck).start())

    def rows():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    q = start()
    deadline = time.time() + 120
    while time.time() < deadline and rows() < 37:
        time.sleep(1)
    q.stop()                                   # kill mid-stream
    q.awaitTermination(60)
    assert 0 < rows() < 120

    q = start()                                # resume from checkpoint
    deadline = time.time() + 120
    while time.time() < deadline and rows() < 120:
        time.sleep(1)
    q.stop()
    q.awaitTermination(60)

    got = spark.read.parquet(out)
    assert got.count() == 120
    assert got.select("doc_id").distinct().count() == 120   # no dups
    batch = (spark.read.format("synthetic_books")
             .option("n_docs", 120).option("partitions", 4).load())

    def dig(df):
        return (df.select(
            F.xxhash64(F.to_json(F.struct("doc_id", "spans")))
            .alias("h")).agg(F.expr("bit_xor(h)")).collect()[0][0])

    assert dig(got) == dig(batch)
