"""Main-content extraction for markup documents (north_rule: "HTML
boilerplate strip, ... DOM heuristics").

The classic line-wise TEXT-DENSITY heuristic (Arc90/boilerpipe family):
a line belongs to the main content iff its tag-stripped text is long
enough AND dominates the raw line (density >= 1/2) — navigation chrome,
link bars, ads and footers are short and tag-heavy, so they fall out
without any DOM parse.  The whole operator is JVM-side array
higher-order functions over ``split(html, '\\n')`` — per-row, ORDER
PRESERVING and shuffle-free, so it scales as a pure map stage — and
every step is SQL-expressible, so the DuckDB twin recomputes the full
synthesize -> strip -> extract pipeline bit-for-bit.

``synth_html`` wraps a plain-text corpus in deterministic boilerplate
(nav / ad / footer chrome) so extraction is testable without external
data: on long docs the extractor must recover the original text exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the tag-strip pattern '<[^>]*>' parses identically under Java regex
# and RE2, but the replace semantics differ: Spark's regexp_replace is
# GLOBAL by default while DuckDB replaces only the first match without
# the 'g' flag — hence two spellings of the same strip
_STRIP_SPARK = "trim(regexp_replace({l}, '<[^>]*>', ''))"
_STRIP_SQL = "trim(regexp_replace({l}, '<[^>]*>', '', 'g'))"
# tag-stripped characters a content line needs, on both engines
MIN_TEXT = 30

# DOM-type blocklist: lines opening a known chrome container are never
# content, whatever their text density (a long copyright footer beats
# the density test alone)
_CHROME = "^<(nav|footer|header|script|style|aside)[ >]"

_BOILERPLATE = (
    '<html><head><title>synthetic page</title></head><body>',
    '<nav><a href="/">Home</a> | <a href="/about">About</a> | '
    '<a href="/contact">Contact</a></nav>',
    '<div class="ad">Buy now!!! Limited offer</div>',
    # ... main content goes here ...
    '<footer>(c) 2026 example corp - all rights reserved</footer>',
    '</body></html>',
)


def synth_html(docs: DataFrame) -> DataFrame:
    """docs + an ``html`` column: the text wrapped in deterministic
    boilerplate chrome (pure concat — no Python)."""
    head = "\n".join(_BOILERPLATE[:3])
    tail = "\n".join(_BOILERPLATE[3:])
    # NULL text -> empty page (mirrored by coalesce in the SQL twin);
    # without this, concat would propagate NULL html on the Spark side
    # while any non-NULL-propagating twin spelling diverged
    return docs.withColumn(
        "html",
        F.concat(F.lit(head + "\n<p>"),
                 F.coalesce(F.col("text"), F.lit("")),
                 F.lit("</p>\n" + tail)))


def extract_main_html(html_docs: DataFrame) -> DataFrame:
    """doc_id + ``main_text``: the density-filtered, tag-stripped lines
    joined in original order."""
    # strip each line ONCE into a struct, then filter/project on it —
    # inlining the strip into the predicate would run the regex 3x/line
    s = _STRIP_SPARK.format(l="l")
    expr = (f"array_join(transform(filter("
            f"transform(split(html, '\\n'), "
            f"l -> struct(l AS raw, {s} AS txt)), "
            f"p -> length(p.txt) >= {MIN_TEXT} "
            f"AND length(p.txt) * 2 >= length(p.raw) "
            f"AND NOT p.raw rlike '{_CHROME}'), "
            f"p -> p.txt), '\\n')")
    return html_docs.select("doc_id", F.expr(expr).alias("main_text"))


def pdf_text_roundtrip(docs: DataFrame) -> DataFrame:
    """PDF text-layer plumbing end-to-end (north_rule: "PDF/layout
    parse"): write each doc's text into a real single-page PDF
    (functions/pdf.py) — even doc_ids get a /FlateDecode-compressed
    content stream, odd ones raw, so both parser paths run on every
    corpus — parse the PDF back, and emit the md5 of the recovered
    text.  One Arrow-batched map stage, no shuffle.  The DuckDB twin is
    just ``md5(text)`` — it never sees the PDF bytes, so a lossy
    escape/inflate/parse anywhere in the roundtrip fails the hash."""
    import hashlib
    from typing import Iterator

    import pandas as pd

    from ocr_proofreader_spark.functions.pdf import (extract_pdf_text,
                                                     synth_pdf)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[["doc_id"]].copy()
            # NULL text -> NULL digest, matching the oracle's md5(NULL)
            out["pdf_text_digest"] = [
                None if t is None else
                hashlib.md5(
                    extract_pdf_text(synth_pdf(t, compress=d % 2 == 0))
                    .encode()).hexdigest()
                for d, t in zip(pdf["doc_id"], pdf["text"])]
            yield out
    return (docs.select("doc_id", "text")
            .mapInPandas(fn, "doc_id long, pdf_text_digest string"))


def extract_main_sql() -> str:
    """DuckDB twin of synth_html + extract_main_html over ``documents``:
    same boilerplate, same density rule, digest of the extracted text."""
    head = "\n".join(_BOILERPLATE[:3]).replace("'", "''")
    tail = "\n".join(_BOILERPLATE[3:]).replace("'", "''")
    s = _STRIP_SQL.format(l="l")
    return f"""
        WITH page AS (
          SELECT doc_id,
                 '{head}' || chr(10) || '<p>' || coalesce(text, '')
                 || '</p>' || chr(10) || '{tail}' AS html
          FROM documents)
        SELECT doc_id,
               -- coalesce: array_to_string([]) is NULL in DuckDB where
               -- Spark's array_join([]) is '' — all-filtered docs must
               -- digest identically on both sides
               md5(coalesce(array_to_string(
                 [p.txt for p in
                  [struct_pack(raw := l, txt := {s})
                   for l in string_split(html, chr(10))]
                  if length(p.txt) >= {MIN_TEXT}
                     and length(p.txt) * 2 >= length(p.raw)
                     and not regexp_matches(p.raw, '{_CHROME}')],
                 chr(10)), '')) AS main_digest
        FROM page"""


def pdf_image_roundtrip(docs: DataFrame) -> DataFrame:
    """Scanned-page PDF plumbing end-to-end (north_rule: "PDF/layout
    parse" over a scanned-book domain where the page IS an image):
    write each doc's text into a single-page PDF that ALSO embeds a
    solid-color image XObject whose filter rotates by doc_id across
    /DCTDecode (the repo's baseline-JPEG codec), /FlateDecode and
    /LZWDecode (the PDF-flavor MSB-first LZW codec) — then parse both
    layers back and emit md5 digests of the recovered pixel value and
    text.  Solid colors round-trip bit-exactly through all three
    filters (the JPEG encoder's all-ones quant tables make constant
    blocks lossless), so the DuckDB twin can recompute every output
    column from md5(doc_id) arithmetic without ever seeing PDF bytes —
    a full-strength hash gate over codec + container + parser.  One
    Arrow-batched map stage, no shuffle; corrupt/odd rows isolate via
    the NULL-text path like the text roundtrip."""
    import hashlib
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from ocr_proofreader_spark.functions.pdf import (PdfError,
                                                     extract_pdf_images,
                                                     extract_pdf_text,
                                                     synth_pdf_with_image)
    filters = ("DCTDecode", "FlateDecode", "LZWDecode")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                if t is None:
                    rows.append((d, None, None, None, None, None, None))
                    continue
                hb = hashlib.md5(str(d).encode()).digest()
                filt = filters[d % 3]
                w, h = 8 + hb[1] % 9, 8 + hb[2] % 9
                # JPEG leg stays grayscale: the YCbCr transform rounds
                # RGB by +-1, gray is the exactness-guaranteed path
                nc = 1 if filt == "DCTDecode" else 1 + 2 * (hb[3] % 2)
                color = (hb[0],) if nc == 1 else (hb[0], hb[4], hb[5])
                px = np.empty((h, w, nc), np.uint8)
                px[:] = color
                blob = synth_pdf_with_image(t, px, filt,
                                            compress_text=d % 2 == 0)
                imgs = extract_pdf_images(blob)
                if len(imgs) != 1:       # structural parse failure —
                    # classified, never a bare assert (stripped by -O)
                    raise PdfError(
                        f"expected 1 image XObject, got {len(imgs)}")
                # no pixel-equality assert here: the emitted digest is
                # computed from the DECODED pixels, so any roundtrip
                # inexactness hash-mismatches the twin instead of
                # killing the stage
                gh, gw, gnc = imgs[0].shape
                pix = ",".join(str(int(v)) for v in imgs[0][0, 0])
                rows.append((
                    d, filt, gw, gh, gnc,
                    hashlib.md5(pix.encode()).hexdigest(),
                    hashlib.md5(
                        extract_pdf_text(blob).encode()).hexdigest()))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "img_filter", "img_w", "img_h", "img_ch",
                "pix_digest", "pdf_text_digest"])
    return (docs.select("doc_id", "text")
            .mapInPandas(fn, "doc_id long, img_filter string, "
                             "img_w int, img_h int, img_ch int, "
                             "pix_digest string, pdf_text_digest string"))
