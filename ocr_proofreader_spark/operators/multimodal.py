"""Multimodal column plumbing: media spans as opaque references/binary with
typed metadata, decode/feature-extract as an Arrow-batched UDF stage.

Scanned books carry page images only, so there is one modality and one
REAL pure-Python codec path over a binary payload column:
PPM/PGM/BMP/PNG/baseline JPEG/GIF via ``decode_media_bytes``, with
per-row poison isolation.  ``synth_payload`` stands in for real scan
bytes with md5-derived solid images, which keeps the decode path
SQL-expressible for the DuckDB twin."""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("page", T.IntegerType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("features", T.ArrayType(T.FloatType()), True),
])


def media_inventory(docs_spans: DataFrame) -> DataFrame:
    """Explode media spans of the interleaved table -> one row per media
    ref with its parsed page number (pure built-ins, no Python)."""
    return (docs_spans
            .select("doc_id", F.explode("spans").alias("s"))
            .filter(F.col("s.kind") == "media")
            .select("doc_id",
                    F.col("s.media_ref").alias("media_ref"),
                    F.regexp_extract("s.media_ref", r"p(\d+)\.png", 1)
                    .cast("int").alias("page")))


MEDIA_BYTES_META = T.StructType(MEDIA_META.fields + [
    T.StructField("error", T.StringType(), True),
])


def decode_media_bytes(media: DataFrame) -> DataFrame:
    """REAL decode stage over a ``payload`` binary column: pure-Python
    PPM/PGM/BMP/PNG/JPEG/GIF codecs (functions/codecs.py and siblings)
    parse pixels and emit (width, height, features) per ref, plus an
    ``error`` column.

    A payload the codecs reject yields a null-dims row with the codec
    error message instead of failing the task — at corpus scale corrupt
    blobs are a certainty and one poison payload must not kill a
    1000-executor stage; lineage rollups count errors from the column."""
    from ocr_proofreader_spark.functions.codecs import (CodecError,
                                                        band_features,
                                                        sniff_and_decode)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, ref, page, payload in zip(
                    pdf["doc_id"], pdf["media_ref"], pdf["page"],
                    pdf["payload"]):
                try:
                    px = sniff_and_decode(
                        bytes(payload) if payload is not None else b"")
                    feats = band_features(px)
                    rows.append((doc_id, ref, page, px.shape[1],
                                 px.shape[0], feats.tolist(), None))
                # struct.error/IndexError too: a malformed segment can
                # slip past length guards into struct.unpack / slicing
                # (e.g. SOF0 declaring ln=5) — every malformed-payload
                # parse error must isolate to THIS row, never the stage
                except (CodecError, ValueError, struct.error,
                        IndexError) as e:
                    rows.append((doc_id, ref, page, None, None, None,
                                 str(e)))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "media_ref", "page", "width", "height",
                "features", "error"])
    return (media.select("doc_id", "media_ref", "page", "payload")
            .mapInPandas(fn, MEDIA_BYTES_META))


def synth_payload(media: DataFrame) -> DataFrame:
    """media + a deterministic binary ``payload`` column: a solid gray
    image whose dims/level derive from the ref's md5 (width 60+b0%20,
    height 80+b1%20, gray b2) — encoded by md5 byte 3 mod 4 as PNG
    (RGB, stdlib-zlib deflate), binary PPM, baseline JPEG (grayscale;
    all-ones quant tables make solid blocks round-trip BIT-EXACTLY,
    see functions/jpeg.py), or GIF (lossless LZW, identity gray
    palette read back as RGB), so all four real image-codec legs are
    exercised end-to-end by the same driver query.  The decoded pixel
    VALUES are identical across the encodings, which is what keeps
    the DuckDB twin format-agnostic.  Stands in
    for reading real scan bytes in environments without them; because
    the pixel content is a pure function of the ref, the REAL codec
    path is oracle-checkable (encode -> parse -> features)."""
    from ocr_proofreader_spark.functions.codecs import encode_png
    from ocr_proofreader_spark.functions.gif import encode_gif
    from ocr_proofreader_spark.functions.jpeg import encode_jpeg

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for ref in pdf["media_ref"]:
                h = hashlib.md5(ref.encode()).digest()
                w, ht, g = 60 + h[0] % 20, 80 + h[1] % 20, h[2]
                leg = h[3] % 4
                if leg == 0:
                    payloads.append(encode_png(
                        np.full((ht, w, 3), g, dtype=np.uint8)))
                elif leg == 1:
                    payloads.append(b"P6\n%d %d\n255\n" % (w, ht)
                                    + bytes([g]) * (w * ht * 3))
                elif leg == 2:
                    payloads.append(encode_jpeg(
                        np.full((ht, w, 1), g, dtype=np.uint8)))
                else:
                    payloads.append(encode_gif(
                        np.full((ht, w, 1), g, dtype=np.uint8)))
            out = pdf[["doc_id", "media_ref", "page"]].copy()
            out["payload"] = payloads
            yield out
    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("page", T.IntegerType(), True),
        T.StructField("payload", T.BinaryType(), False),
    ])
    return media.mapInPandas(fn, schema)
