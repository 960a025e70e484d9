"""Multimodal plumbing: the pure-Python image codecs and the real
decode stage over synthesized page-image payloads — schemas, batch
shapes, determinism and per-row poison isolation."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(not os.path.isdir(SF),
                                reason="driver testdata missing")


@pytest.fixture(scope="module")
def media(spark):
    from ocr_proofreader_spark.operators.multimodal import media_inventory
    from ocr_proofreader_spark.sources.interleaved import interleaved_from_flat
    flat = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    return media_inventory(interleaved_from_flat(flat))


def test_decode_schema_and_determinism(spark, media):
    from ocr_proofreader_spark.operators.multimodal import (
        decode_media_bytes, synth_payload)
    out = decode_media_bytes(synth_payload(media))
    rows = out.collect()
    assert len(rows) == media.count()          # decode is 1:1
    r = rows[0]
    assert 60 <= r["width"] < 80 and 80 <= r["height"] < 100
    assert len(r["features"]) == 8
    again = {x["media_ref"]: tuple(x["features"])
             for x in decode_media_bytes(
                 synth_payload(media.repartition(5))).collect()}
    assert all(again[x["media_ref"]] == tuple(x["features"]) for x in rows)


def _ppm(w, h, rows):
    """Binary P6 bytes: rows = list of h lists of w (r,g,b) tuples."""
    body = bytes(c for row in rows for px in row for c in px)
    return b"P6\n# test\n%d %d\n255\n" % (w, h) + body


def _bmp24(w, h, rows):
    """24-bit bottom-up BI_RGB BMP bytes; rows top-down RGB tuples."""
    import struct
    stride = (w * 3 + 3) & ~3
    raster = b""
    for row in reversed(rows):                 # bottom-up storage
        line = bytes(c for (r, g, b) in row for c in (b, g, r))  # BGR
        raster += line + b"\x00" * (stride - len(line))
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                       len(raster), 2835, 2835, 0, 0)
    head = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(raster), 0, 0,
                       14 + 40)
    return head + info + raster


def test_codecs_pure_python():
    import numpy as np
    from ocr_proofreader_spark.functions.codecs import (CodecError,
                                                        band_features,
                                                        decode_bmp,
                                                        decode_pnm,
                                                        sniff_and_decode)
    rows = [[(255, 255, 255)] * 3, [(0, 0, 0)] * 3]     # white over black
    px = decode_pnm(_ppm(3, 2, rows))
    assert px.shape == (2, 3, 3)
    assert px[0].min() == 255 and px[1].max() == 0
    bx = decode_bmp(_bmp24(3, 2, rows))
    assert (bx == px).all()                              # same image
    feats = band_features(px)
    assert feats.tolist() == [1.0] * 4 + [0.0] * 4
    # PGM (single channel) and magic dispatch
    gray = b"P5\n2 2\n255\n" + bytes([10, 20, 30, 40])
    gx = sniff_and_decode(gray)
    assert gx.shape == (2, 2, 1) and gx[1, 1, 0] == 40
    with pytest.raises(CodecError):
        sniff_and_decode(b"GIF89a....")
    with pytest.raises(CodecError):
        decode_pnm(_ppm(3, 2, rows)[:-5])                # truncated raster


def test_codecs_roundtrip_property():
    """Any pixel grid survives PPM and BMP encode->decode bit-exactly
    (hypothesis-generated dims and content)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ocr_proofreader_spark.functions.codecs import decode_bmp, decode_pnm

    @settings(max_examples=40, deadline=None)
    @given(w=st.integers(1, 9), h=st.integers(1, 9),
           seed=st.integers(0, 2**31 - 1))
    def check(w, h, seed):
        px = (np.random.RandomState(seed)
              .randint(0, 256, size=(h, w, 3), dtype=np.uint8))
        rows = [[tuple(int(c) for c in px[y, x]) for x in range(w)]
                for y in range(h)]
        assert (decode_pnm(_ppm(w, h, rows)) == px).all()
        assert (decode_bmp(_bmp24(w, h, rows)) == px).all()

    check()


def test_png_roundtrip_all_filters():
    """Every PNG scanline filter (None/Sub/Up/Average/Paeth) and every
    supported channel count (gray, gray+alpha, RGB, RGBA) round-trips
    bit-exactly through the stdlib-zlib codec."""
    import numpy as np

    from ocr_proofreader_spark.functions.codecs import (decode_png,
                                                        encode_png,
                                                        sniff_and_decode)
    rng = np.random.RandomState(42)
    for channels in (1, 2, 3, 4):
        px = rng.randint(0, 256, size=(7, 5, channels), dtype=np.uint8)
        for filt in range(5):
            data = encode_png(px, filter_type=filt)
            assert (decode_png(data) == px).all(), (channels, filt)
    # magic dispatch reaches the PNG leg
    px = rng.randint(0, 256, size=(3, 4, 3), dtype=np.uint8)
    assert (sniff_and_decode(encode_png(px, 4)) == px).all()


def test_png_roundtrip_property():
    """Hypothesis sweep: any dims/content/filter round-trip bit-exactly
    (the Sub cumulative-sum and the sequential Average/Paeth unfilters
    must agree with the encoder's forward filters everywhere)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ocr_proofreader_spark.functions.codecs import decode_png, encode_png

    @settings(max_examples=40, deadline=None)
    @given(w=st.integers(1, 9), h=st.integers(1, 9),
           c=st.sampled_from([1, 3, 4]), filt=st.integers(0, 4),
           seed=st.integers(0, 2**31 - 1))
    def check(w, h, c, filt, seed):
        px = (np.random.RandomState(seed)
              .randint(0, 256, size=(h, w, c), dtype=np.uint8))
        assert (decode_png(encode_png(px, filt)) == px).all()

    check()


def test_png_poison_payloads():
    """Corrupt PNGs raise CodecError (never a stage-killing exception):
    bad magic, truncated chunk, flipped CRC, garbled IDAT, interlaced."""
    import numpy as np
    import pytest

    from ocr_proofreader_spark.functions.codecs import (CodecError,
                                                        decode_png,
                                                        encode_png)
    px = np.full((4, 3, 3), 7, dtype=np.uint8)
    good = encode_png(px)
    with pytest.raises(CodecError):
        decode_png(b"\x89PNX" + good[4:])          # bad magic
    with pytest.raises(CodecError):
        decode_png(good[:-20])                     # truncated
    corrupt = bytearray(good)
    corrupt[-5] ^= 0xFF                            # IEND CRC flip
    with pytest.raises(CodecError):
        decode_png(bytes(corrupt))
    # interlace flag set (and IHDR CRC recomputed to isolate the check)
    import struct
    import zlib
    ihdr = bytearray(good[16:29])
    ihdr[12] = 1
    patched = (good[:8] + struct.pack(">I", 13) + b"IHDR" + bytes(ihdr)
               + struct.pack(">I", zlib.crc32(b"IHDR" + bytes(ihdr))
                             & 0xFFFFFFFF) + good[33:])
    with pytest.raises(CodecError, match="interlaced"):
        decode_png(patched)


def test_synth_payload_mixes_codec_legs(spark, media):
    """The synthetic payload generator must exercise all THREE codec
    legs (md5 byte 3 mod 3: PNG / PPM / baseline JPEG), and the real
    decode stage produces identical (dims, features) regardless of
    encoding."""
    from ocr_proofreader_spark.operators.multimodal import (
        decode_media_bytes, synth_payload)
    withp = synth_payload(media)
    rows = withp.collect()
    magics = {bytes(r["payload"][:2]) for r in rows}
    assert {b"\x89P", b"P6", b"\xff\xd8"} <= magics   # all legs present
    decoded = decode_media_bytes(withp).collect()
    assert all(r["error"] is None for r in decoded)
    import hashlib
    for r in decoded:
        h = hashlib.md5(r["media_ref"].encode()).digest()
        assert r["width"] == 60 + h[0] % 20
        assert r["height"] == 80 + h[1] % 20
        assert all(abs(f - h[2] / 255.0) < 1e-6 for f in r["features"])


def test_decode_media_bytes_real_path(spark):
    """The REAL decode stage: payload bytes in -> dims + band features
    out, corrupt payloads isolated to error rows (a poison blob must
    not kill the stage)."""
    from ocr_proofreader_spark.operators.multimodal import decode_media_bytes
    rows = [[(255, 255, 255)] * 3, [(0, 0, 0)] * 3]
    data = [
        ("d1", "scan/d1/p0.ppm", 0, bytearray(_ppm(3, 2, rows))),
        ("d1", "scan/d1/p1.bmp", 1, bytearray(_bmp24(3, 2, rows))),
        ("d2", "scan/d2/p0.bin", 0, bytearray(b"not an image")),
        ("d2", "scan/d2/p1.png", 1, None),
        # right magic, garbled header: must isolate to an error row,
        # not kill the stage (raised ValueError pre-fix)
        ("d2", "scan/d2/p2.ppm", 2, bytearray(b"P6\nab cd 255\nxxxxxx")),
    ]
    media = spark.createDataFrame(
        data, "doc_id string, media_ref string, page int, payload binary")
    out = {r["media_ref"]: r
           for r in decode_media_bytes(media.repartition(3)).collect()}
    ok = [out["scan/d1/p0.ppm"], out["scan/d1/p1.bmp"]]
    assert all(r["width"] == 3 and r["height"] == 2 and r["error"] is None
               for r in ok)
    assert all(r["features"] == [1.0] * 4 + [0.0] * 4 for r in ok)
    bad = [out["scan/d2/p0.bin"], out["scan/d2/p1.png"],
           out["scan/d2/p2.ppm"]]
    assert all(r["width"] is None and r["error"] for r in bad)


def test_gif_codec_roundtrip_and_poison():
    """GIF with REAL LZW both ways: gray and palettized-RGB round-trips
    are bit-exact (lossless format), dictionary growth / width
    escalation / 4096 reset all exercised, corrupt payloads classified."""
    import numpy as np
    import pytest

    from ocr_proofreader_spark.functions.codecs import (CodecError,
                                                        sniff_and_decode)
    from ocr_proofreader_spark.functions.gif import decode_gif, encode_gif
    rng = np.random.RandomState(0)
    px = rng.randint(0, 256, size=(40, 50, 1), dtype=np.uint8)
    out = decode_gif(encode_gif(px))
    assert out.shape == (40, 50, 3)
    assert (out == px).all()                       # gray palette r=g=b
    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [10, 20, 30]],
                   dtype=np.uint8)
    rgb = pal[rng.randint(0, 4, size=(30, 30))]
    assert (decode_gif(encode_gif(rgb)) == rgb).all()
    # long repetitive run crosses the 4096-entry dictionary reset
    rep = np.tile(np.arange(16, dtype=np.uint8), 4000).reshape(250, 256, 1)
    assert (decode_gif(encode_gif(rep))[:, :, 0] == rep[:, :, 0]).all()
    # magic dispatch
    solid = np.full((7, 9, 1), 42, dtype=np.uint8)
    assert (sniff_and_decode(encode_gif(solid)) == 42).all()
    # poison: bad magic / truncated stream / >256 colors / interlace bit
    good = encode_gif(solid)
    with pytest.raises(CodecError):
        decode_gif(b"GIF88a" + good[6:])
    with pytest.raises(CodecError):
        decode_gif(good[:len(good) // 2])
    grad = np.arange(300, dtype=np.int32) % 257
    many = np.stack([grad % 256, grad // 2 % 256, grad // 3 % 256],
                    axis=1).astype(np.uint8).reshape(10, 30, 3)
    # craft an interlaced flag on a valid file; the image descriptor
    # sits at a FIXED offset (6 header + 7 LSD + 768 GCT) — searching
    # for 0x2C would hit palette entry 44
    bad = bytearray(good)
    desc = 6 + 7 + 768
    assert bad[desc] == 0x2C
    bad[desc + 9] |= 0x40
    with pytest.raises(CodecError, match="interlaced"):
        decode_gif(bytes(bad))


def test_poison_isolation_advice_cases(spark):
    """Round-4 advisor escape: a JPEG segment whose declared length
    passes the ln-2 check but underfeeds struct.unpack (SOF0 with ln=5)
    must isolate via the widened catch tuple."""
    import struct

    from ocr_proofreader_spark.operators.multimodal import decode_media_bytes

    # truncated-SOF0 JPEG: SOI + SOF0 declaring ln=5 (passes ln>=2,
    # struct.unpack('>HH', seg[1:5]) then sees only 2 bytes)
    evil = b"\xff\xd8" + b"\xff\xc0" + struct.pack(">H", 5) + b"\x08\x00"
    bad_img = spark.createDataFrame(
        [("d", "z.jpg", 0, evil)],
        "doc_id string, media_ref string, page int, payload binary")
    rows = decode_media_bytes(bad_img).collect()
    assert rows[0]["error"] is not None and rows[0]["width"] is None


def test_simhash_near_dup_band_overflow(spark):
    """The 4 bands of 4 bits tile the 16-bit fingerprint (no band
    shifted past it, which would be constant 0: one bucket holding
    every doc), so the banded join agrees with the quadratic exact join
    at radius 2 on a corpus with many near pairs."""
    from ocr_proofreader_spark.operators import training_ops as ops
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}{'x' if (i + j) % 7 == 0 else ''}"
                      for j in range(12)))
         for i in range(30)], "doc_id long, text string")
    got = {(r["d1"], r["d2"], r["hamming"])
           for r in ops.simhash_near_dup(docs).collect()}
    # quadratic oracle on the same fingerprints
    from pyspark.sql import functions as F
    sh = ops.simhash(docs, 16)
    a = sh.select(F.col("doc_id").alias("d1"), F.col("simhash").alias("s1"))
    b = sh.select(F.col("doc_id").alias("d2"), F.col("simhash").alias("s2"))
    exact = {(r["d1"], r["d2"], r["hamming"]) for r in
             (a.crossJoin(b).filter(F.col("d1") < F.col("d2"))
              .select("d1", "d2",
                      F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
                      .cast("long").alias("hamming"))
              .filter(F.col("hamming") <= 2)).collect()}
    assert exact and got == exact
