"""End-to-end span-sequence equality: Spark engine vs frozen oracle
(SURVEY.md test 5.2-2; BASELINE.json:15 acceptance criterion)."""

import pytest

from ocr_proofreader_spark.config import RunConfig
from ocr_proofreader_spark.lexicon import broadcast_lexicon
from ocr_proofreader_spark.operators.proofread import proofread


def _spans_tuples(rows):
    """{doc_id: [(kind,text,media_ref,order), ...]} from collected rows."""
    return {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"])
                          for s in r["spans"]]
            for r in rows}


@pytest.fixture(scope="module")
def proofread_result(spark, corpus_small, base_lexicon):
    docs = spark.read.parquet(f"{corpus_small}/documents.parquet")
    cfg = RunConfig(rebalance_partitions=8)
    lex_bc = broadcast_lexicon(spark, base_lexicon)
    out = proofread(spark, docs, cfg, lex_bc)
    return out.collect()


def test_span_sequence_equality(spark, corpus_small, proofread_result):
    expected = _spans_tuples(
        spark.read.parquet(f"{corpus_small}/expected.parquet").collect())
    got = _spans_tuples(proofread_result)
    assert set(got) == set(expected)
    mismatches = [d for d in expected if got[d] != expected[d]]
    if mismatches:
        d = mismatches[0]
        for a, b in zip(expected[d], got[d]):
            assert a == b, f"doc {d}: {a!r} != {b!r}"
        assert len(expected[d]) == len(got[d]), d
    assert not mismatches


def test_metrics_sane(proofread_result):
    total_corr = sum(r["corrections"] for r in proofread_result)
    total_span = sum(r["span_count"] for r in proofread_result)
    assert total_span > 0
    assert total_corr > 0  # the corpus plants correctable corruptions


def test_chunked_path_matches_fast_path(spark, corpus_small, base_lexicon):
    """Force every doc through the skew path; results must be identical
    (rule R0 page-locality guarantees chunking is exact)."""
    docs = (spark.read.parquet(f"{corpus_small}/documents.parquet")
            .limit(60))
    lex_bc = broadcast_lexicon(spark, base_lexicon)
    fast = proofread(spark, docs, RunConfig(), lex_bc)
    forced = proofread(spark, docs,
                       RunConfig(chunk_threshold_spans=0),
                       lex_bc)
    a = _spans_tuples(fast.collect())
    b = _spans_tuples(forced.collect())
    assert a == b


def test_big_lexicon_matches_oracle_on_both_paths(spark, md5_lexicon,
                                                  monkeypatch):
    """Every fixture lexicon is small enough that R4's bucket scan always
    wins the crossover; a 3*10^4-word lexicon sends R4 to the
    neighbourhood arm.  The fast path and the chunked path must still
    equal the oracle on 20 generated books."""
    from fixtures.gen import CorpusGenerator
    from ocr_proofreader_spark.functions.rules import DocProofreader, LexIndex
    from ocr_proofreader_spark.schemas import DOCUMENTS_IN
    from oracle.refsem import proofread_document

    gen = CorpusGenerator(seed=42)
    rows = [gen.gen_doc(i, validate=False)[:2] for i in range(20)]
    # a non-media span of a kind other than "text" is corrected too
    rows.append(("caption-1", [
        {"kind": "text", "text": "A picture of a fox.", "media_ref": "",
         "offset": 0},
        {"kind": "media", "text": "", "media_ref": "img/fox.png",
         "offset": 1},
        {"kind": "caption", "text": "the qvick brown fox", "media_ref": "",
         "offset": 2}]))
    # the Kelvin sign (U+212A) is an R1 delimiter: the book's frequent
    # word is "zorb", so "kzorp" has no d=1 book-frequent candidate
    rows.append(("kelvin-1", [
        {"kind": "text", "text": "\u212azorb " * 5 + "kzorp",
         "media_ref": "", "offset": 0}]))

    arms = {"_neighbourhood_fix": 0, "_scan_fix": 0}
    for name in arms:
        def counted(self, tok, _name=name, _fn=getattr(DocProofreader, name)):
            arms[_name] += 1
            return _fn(self, tok)
        monkeypatch.setattr(DocProofreader, name, counted)
    idx = LexIndex(md5_lexicon)
    for _, spans in rows:
        DocProofreader(idx, freq_k=gen.freq_k).run(spans)
    monkeypatch.undo()
    assert arms["_neighbourhood_fix"] > 10 * arms["_scan_fix"], arms

    expected = {}
    for doc_id, spans in rows:
        out, _ = proofread_document(spans, md5_lexicon, gen.freq_k)
        expected[doc_id] = [(s["kind"], s["text"], s["media_ref"], s["order"])
                            for s in out]
    docs = spark.createDataFrame(rows, DOCUMENTS_IN)
    lex_bc = broadcast_lexicon(spark, md5_lexicon)
    for cfg in (RunConfig(), RunConfig(chunk_threshold_spans=0)):
        got = _spans_tuples(proofread(spark, docs, cfg, lex_bc).collect())
        assert got == expected, cfg
        assert "the quick brown fox" in " ".join(
            t for _, t, _, _ in got["caption-1"]), cfg
