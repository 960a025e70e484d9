"""S10/S11 derived datasets vs the oracle's per-book counter."""

from pyspark.sql import functions as F

from ocr_proofreader_spark.operators.word_freq import lexicon_table, word_freq
from ocr_proofreader_spark.schemas import DOCUMENTS_IN
from oracle.refsem import book_word_freq

# Characters outside Latin-1 whose lowercase form is inside R1's token
# class: R1 splits on them, so they must never be lowercased into a token
# (Ÿ -> ÿ, İ -> i + U+0307, Kelvin sign -> k, Angstrom sign -> å; ẞ -> ß)
_OFF_LATIN1 = [
    ("unicode-1", [{"kind": "text",
                    "text": "\u0178ES \u0130stanbul \u212aing "
                            "\u212bngstr\u00f6m",
                    "media_ref": "", "offset": 0}]),
    ("unicode-2", [{"kind": "text",
                    "text": "GRO\u1e9eE Stra\u1e9ee \u0178\u0178 \u0130\u0130 "
                            "\u212a\u212a \u212bs",
                    "media_ref": "", "offset": 0}]),
]


def test_word_freq_matches_oracle(spark, corpus_small):
    docs = (spark.read.parquet(f"{corpus_small}/documents.parquet").limit(20)
            .unionByName(spark.createDataFrame(_OFF_LATIN1, DOCUMENTS_IN)))
    wf = word_freq(docs).collect()
    got = {}
    for r in wf:
        got.setdefault(r["doc_id"], {})[r["word"]] = r["freq"]

    for row in docs.collect():
        spans = [s.asDict() for s in row["spans"]]
        exp = book_word_freq(spans)
        assert got.get(row["doc_id"], {}) == dict(exp), row["doc_id"]


def test_lexicon_table(spark, corpus_small, base_lexicon):
    docs = spark.read.parquet(f"{corpus_small}/documents.parquet").limit(40)
    wf = word_freq(docs)
    lex = lexicon_table(spark, base_lexicon, wf)
    rows = lex.collect()
    words = {r["word"] for r in rows}
    assert base_lexicon <= words
    # no duplicates between base and book_frequent
    assert len(rows) == len(words)
    frequent = {r["word"] for r in rows if r["source"] == "book_frequent"}
    assert frequent.isdisjoint(base_lexicon)
    # every frequent word really has freq >= 5 in some book
    if frequent:
        mx = (wf.filter(F.col("word").isin(list(frequent)))
              .groupBy("word").agg(F.max("freq").alias("m")).collect())
        assert all(r["m"] >= 5 for r in mx)
