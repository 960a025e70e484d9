"""Main-content extraction (north_rule: HTML boilerplate strip + DOM
heuristics): the density + chrome-blocklist extractor must recover the
wrapped text exactly and reject every boilerplate line, shuffle-free."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(not os.path.isdir(SF),
                                reason="driver testdata missing")


def _recoverable(text: str) -> bool:
    """Docs the extractor guarantees to recover EXACTLY: every line long
    enough for the density rule, no markup characters (the tag-strip
    regex would eat them), no surrounding whitespace (lines are
    trimmed)."""
    lines = text.split("\n")
    return all(len(ln) >= 30 and "<" not in ln and ">" not in ln
               and ln == ln.strip() for ln in lines)


def test_extracts_exact_text_and_rejects_chrome(spark):
    from ocr_proofreader_spark.operators.extraction import (
        extract_main_html, synth_html)
    docs = (spark.read.parquet(os.path.join(SF, "documents.parquet"))
            .select("doc_id", "text"))
    out = extract_main_html(synth_html(docs))
    joined = {r["doc_id"]: r["main_text"] for r in out.collect()}
    originals = {r["doc_id"]: r["text"] for r in docs.collect()}
    clean = {k: v for k, v in originals.items() if _recoverable(v)}
    assert len(clean) >= len(originals) * 0.9   # corpus is mostly clean
    for k, v in clean.items():
        assert joined[k] == v, k                # exact recovery
    # boilerplate never leaks into the extraction of clean docs
    chrome = ("Home", "Buy now", "rights reserved", "synthetic page")
    for k in clean:
        assert not any(c in joined[k] for c in chrome
                       if c not in originals[k])
    # in-test synthetic edge docs: markup-bearing and short docs go
    # through without error (lossy by design, identical in the oracle)
    edge = spark.createDataFrame(
        [(9001, "tiny"), (9002, "a < b but still " + "x" * 30)],
        "doc_id long, text string")
    got = {r["doc_id"]: r["main_text"]
           for r in extract_main_html(synth_html(edge)).collect()}
    assert got[9001] == ""                      # all lines filtered
    assert "<" not in got[9002]                 # markup stripped


def test_pdf_roundtrip_property():
    """Arbitrary text survives the write-PDF -> parse-PDF roundtrip
    losslessly, including PDF-special characters."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ocr_proofreader_spark.functions.pdf import (PdfError,
                                                     extract_pdf_text,
                                                     synth_pdf)

    @settings(max_examples=60, deadline=None)
    @given(st.text(alphabet=st.characters(min_codepoint=9,
                                          blacklist_categories=("Cs",)),
                   max_size=200))
    def check(t):
        assert extract_pdf_text(synth_pdf(t)) == t

    check()
    # document TEXT mentioning FlateDecode must NOT be misclassified as
    # a compressed PDF (the guard scans metadata, not stream bodies)
    t = "this chapter explains the FlateDecode filter"
    assert extract_pdf_text(synth_pdf(t)) == t
    with pytest.raises(PdfError):
        extract_pdf_text(b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode "
                         b">>\nstream\nxx\nendstream\nendobj")
    # foreign-PDF escapes must never raise bare ValueError: octal parses
    # (\101='A'), \8 drops the backslash per spec, and octal overflow
    # (\777 -> masked 0xFF, invalid UTF-8) raises the CLASSIFIED error
    assert extract_pdf_text(
        b"%PDF-1.4\nstream\n(\\101 a\\8b) Tj\nendstream") == "A a8b"
    with pytest.raises(PdfError):
        extract_pdf_text(b"%PDF-1.4\nstream\n(\\777) Tj\nendstream")
    # an INACCURATE direct /Length (real-world PDFs carry them) must
    # not mis-frame the body: when the framed slice is not followed by
    # 'endstream', the parser falls back to the delimiter scan
    # (ADVICE r03).  /Length 3 would otherwise truncate '(hi there) Tj'.
    wrong_len = (b"%PDF-1.4\n1 0 obj\n<< /Length 3 >>\n"
                 b"stream\n(hi there) Tj\nendstream\nendobj")
    assert extract_pdf_text(wrong_len) == "hi there"
    # and an ACCURATE /Length still frames exactly
    body = b"(ok) Tj"
    right_len = (b"%PDF-1.4\n1 0 obj\n<< /Length "
                 + str(len(body)).encode()
                 + b" >>\nstream\n" + body + b"\nendstream\nendobj")
    assert extract_pdf_text(right_len) == "ok"


def test_pdf_roundtrip_on_corpus(spark):
    from pyspark.sql import functions as F
    from ocr_proofreader_spark.operators.extraction import pdf_text_roundtrip
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    out = pdf_text_roundtrip(docs)
    joined = out.join(docs.select("doc_id",
                                  F.md5("text").alias("expected")),
                      "doc_id")
    bad = joined.filter(F.col("pdf_text_digest")
                        != F.col("expected")).count()
    assert bad == 0 and out.count() == docs.count()


def test_extraction_is_shuffle_free(spark):
    from ocr_proofreader_spark.operators.extraction import (
        extract_main_html, synth_html)
    import plan_shapes as P
    docs = (spark.read.parquet(os.path.join(SF, "documents.parquet"))
            .select("doc_id", "text"))
    assert P.count_exchanges(extract_main_html(synth_html(docs))) == 0


def test_pdf_flate_roundtrip_property():
    """Arbitrary text survives the roundtrip through a /FlateDecode-
    compressed content stream, and stream-length framing (not the
    endstream scan) delimits the compressed bytes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ocr_proofreader_spark.functions.pdf import (PdfError,
                                                     extract_pdf_text,
                                                     synth_pdf)

    @settings(max_examples=40, deadline=None)
    @given(st.text(alphabet=st.characters(min_codepoint=9,
                                          blacklist_categories=("Cs",)),
                   max_size=200))
    def check(t):
        assert extract_pdf_text(synth_pdf(t, compress=True)) == t

    check()
    # a compressed stream whose inflated body happens to contain the
    # word endstream must still parse (the /Length framing wins)
    t = "before\nendstream\nafter"
    assert extract_pdf_text(synth_pdf(t, compress=True)) == t
    # backslash-EOL is a line continuation: both chars vanish
    assert extract_pdf_text(
        b"%PDF-1.4\nstream\n(ab\\\ncd) Tj\nendstream") == "abcd"
    assert extract_pdf_text(
        b"%PDF-1.4\nstream\n(ab\\\r\ncd) Tj\nendstream") == "abcd"
    # unsupported filters are classified, not crashed on
    import pytest
    with pytest.raises(PdfError):
        extract_pdf_text(b"%PDF-1.4\n1 0 obj\n<< /Filter /DCTDecode >>\n"
                         b"stream\nxx\nendstream\nendobj")


def test_pdf_lzw_codec():
    """PDF-flavor LZW: the ISO 32000-1 worked example is pinned as a
    byte vector (MSB-first, EarlyChange=1), roundtrips cross all code-
    width bumps and the 12-bit table-full clear, and truncation/garbage
    classify as PdfError."""
    import random

    import pytest

    from ocr_proofreader_spark.functions.pdf import (PdfError,
                                                     lzw_decode_pdf,
                                                     lzw_encode_pdf)
    v = bytes([45, 45, 45, 45, 45, 65, 45, 45, 45, 66])
    enc = lzw_encode_pdf(v)
    assert enc.hex() == "800b6050220c0c8501"      # spec example
    assert lzw_decode_pdf(enc) == v
    rng = random.Random(11)
    # 70k random bytes adds ~35k table entries: crosses 9->10->11->12
    # and the clear-at-4096 reset; both EarlyChange settings
    for n in (0, 1, 257, 70000):
        data = bytes(rng.randrange(256) for _ in range(n))
        for ec in (0, 1):
            assert lzw_decode_pdf(lzw_encode_pdf(data, ec), ec) == data
    with pytest.raises(PdfError):
        lzw_decode_pdf(enc[:3])                   # truncated mid-code
    with pytest.raises(PdfError):
        lzw_decode_pdf(b"\xff\xff\xff")           # code past table


def test_pdf_image_xobject_roundtrip():
    """All three image filters round-trip pixels bit-exactly (solid
    colors through the all-ones-quant JPEG; arbitrary pixels through
    Flate/LZW), the text layer coexists, and corrupt image streams
    classify as PdfError."""
    import numpy as np
    import pytest

    from ocr_proofreader_spark.functions.pdf import (PdfError,
                                                     extract_pdf_images,
                                                     extract_pdf_text,
                                                     synth_pdf,
                                                     synth_pdf_with_image)
    rng = np.random.RandomState(3)
    noise = rng.randint(0, 256, (11, 7, 3)).astype(np.uint8)
    solid = np.full((13, 21, 1), 147, np.uint8)
    for filt, px in (("DCTDecode", solid), ("FlateDecode", noise),
                     ("LZWDecode", noise)):
        blob = synth_pdf_with_image("page one\nline two", px, filt,
                                    compress_text=True)
        imgs = extract_pdf_images(blob)
        assert len(imgs) == 1 and (imgs[0] == px).all(), filt
        assert extract_pdf_text(blob) == "page one\nline two", filt
    # a text-only PDF has no images; a non-PDF classifies
    assert extract_pdf_images(synth_pdf("abc")) == []
    with pytest.raises(PdfError):
        extract_pdf_images(b"not a pdf")
    # corrupt DCT stream -> PdfError, not a raw CodecError escape
    blob = synth_pdf_with_image("t", solid, "DCTDecode")
    corrupt = blob.replace(b"\xff\xd8", b"\xff\x00", 1)
    with pytest.raises(PdfError):
        extract_pdf_images(corrupt)
    # truncated raw samples (Flate body shorter than W*H*ch)
    import zlib
    short = synth_pdf_with_image("t", solid, "FlateDecode")
    good_img = zlib.compress(solid.tobytes(), 6)
    bad_img = zlib.compress(solid.tobytes()[:-5], 6)
    short = short.replace(
        b"/Length " + str(len(good_img)).encode() + b" >>\nstream\n"
        + good_img,
        b"/Length " + str(len(bad_img)).encode() + b" >>\nstream\n"
        + bad_img)
    with pytest.raises(PdfError, match="shorter"):
        extract_pdf_images(short)


def test_pdf_image_roundtrip_stage(spark):
    """The Spark stage: one mapInPandas pass, filter rotation by
    doc_id, digests present, NULL text propagates NULLs."""
    from ocr_proofreader_spark.operators.extraction import \
        pdf_image_roundtrip
    import plan_shapes as P
    docs = spark.createDataFrame(
        [(0, "alpha"), (1, "beta"), (2, "gamma"), (3, None)],
        "doc_id long, text string")
    out = pdf_image_roundtrip(docs)
    assert P.count_exchanges(out) == 0
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[0]["img_filter"] == "DCTDecode"
    assert rows[1]["img_filter"] == "FlateDecode"
    assert rows[2]["img_filter"] == "LZWDecode"
    for d in (0, 1, 2):
        assert rows[d]["pix_digest"] and rows[d]["pdf_text_digest"]
        assert 8 <= rows[d]["img_w"] <= 16 and 8 <= rows[d]["img_h"] <= 16
    assert rows[3]["img_filter"] is None
    assert rows[3]["pix_digest"] is None


def test_pdf_lzw_and_images_fuzz():
    """Garbage never escapes classification: random bytes through the
    LZW decoder and mutated image PDFs through extract_pdf_images must
    either succeed or raise PdfError — any other exception would break
    the per-row poison-isolation contract of stages built on them."""
    import random

    import numpy as np

    from ocr_proofreader_spark.functions.pdf import (PdfError,
                                                     extract_pdf_images,
                                                     lzw_decode_pdf,
                                                     synth_pdf_with_image)
    rng = random.Random(99)
    for _ in range(300):
        blob = bytes(rng.randrange(256)
                     for _ in range(rng.randrange(0, 60)))
        for ec in (0, 1):
            try:
                lzw_decode_pdf(blob, ec)
            except PdfError:
                pass
    px = np.full((9, 9, 1), 77, np.uint8)
    for filt in ("DCTDecode", "FlateDecode", "LZWDecode"):
        base = bytearray(synth_pdf_with_image("t", px, filt))
        for _ in range(120):
            mut = bytearray(base)
            for _ in range(rng.randrange(1, 6)):
                mut[rng.randrange(len(mut))] = rng.randrange(256)
            try:
                extract_pdf_images(bytes(mut))
            except PdfError:
                pass


def test_pdf_image_dct_struct_escape_classified():
    """A truncated SOF0 (declared ln=5) inside a /DCTDecode image
    stream must classify as PdfError — struct.error escaping
    extract_pdf_images would bypass the one-exception-family contract
    row-isolation wrappers rely on."""
    import struct

    import pytest

    from ocr_proofreader_spark.functions.pdf import (PdfError,
                                                     extract_pdf_images)
    evil = b"\xff\xd8\xff\xc0" + struct.pack(">H", 5) + b"\x08\x00"
    pdf = (b"%PDF-1.4\n1 0 obj\n<< /Type /XObject /Subtype /Image "
           b"/Width 1 /Height 1 /ColorSpace /DeviceGray "
           b"/BitsPerComponent 8 /Filter /DCTDecode /Length "
           + str(len(evil)).encode() + b" >>\nstream\n" + evil
           + b"\nendstream\nendobj\n")
    with pytest.raises(PdfError):
        extract_pdf_images(pdf)


def test_pdf_lzw_roundtrip_property():
    """Hypothesis: ANY byte string round-trips through the PDF LZW
    codec under both EarlyChange settings (shrinking finds minimal
    counterexamples if the width-bump alignment ever regresses)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ocr_proofreader_spark.functions.pdf import (lzw_decode_pdf,
                                                     lzw_encode_pdf)

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=4096), st.integers(0, 1))
    def roundtrip(data, ec):
        assert lzw_decode_pdf(lzw_encode_pdf(data, ec), ec) == data

    roundtrip()
