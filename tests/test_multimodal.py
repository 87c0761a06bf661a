"""Multimodal plumbing tests: Arrow batch shapes, schema, stub
semantics (SURVEY.md §2.12 / brief 'multimodal columns')."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gerrydb_etl_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    HAS_PIL,
    HIST_BINS,
    decode_media,
    documents_as_media,
)
from gerrydb_etl_spark.sources import load_table
from tests.conftest import SF_ORACLE


def test_documents_as_media_schema(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    media = documents_as_media(docs)
    kinds = dict(media.dtypes)
    assert kinds["payload"] == "binary"
    assert kinds["n_bytes"] == "bigint"
    row = media.filter(F.col("media_id") == 0).collect()[0]
    assert isinstance(row.payload, (bytes, bytearray))
    assert len(row.payload) == row.n_bytes


def test_decode_media_features(spark):
    docs = load_table(spark, SF_ORACLE, "documents")
    out = decode_media(documents_as_media(docs), frame_bytes=64)
    assert out.schema == FEATURE_SCHEMA
    rows = out.limit(20).collect()
    assert rows
    for r in rows:
        assert len(r.feature) == HIST_BINS
        assert abs(sum(r.feature) - 1.0) < 1e-9  # L1-normalized histogram
        assert r.n_frames == (r.n_bytes + 63) // 64


def _media_df(spark, payload: bytes):
    return spark.createDataFrame(
        [(1, "image", bytearray(payload), len(payload))],
        schema="media_id long, kind string, payload binary, n_bytes long",
    )


def test_decode_media_strict_unknown_format_is_marked_unimplemented(spark):
    """A payload no available codec understands must surface the
    honest NotImplementedError from the worker, never silently fall
    back to the fake featureizer. Text bytes (no PGM/BMP magic) are
    undecodable by the built-ins; with PIL importable they raise
    PIL's unidentified-image error instead, so the match widens."""
    pattern = "no codec" if not HAS_PIL else "image"
    with pytest.raises(Exception, match=pattern):
        decode_media(
            _media_df(spark, b"just some prose, not an image"), strict=True
        ).collect()


def _pgm_p5(w: int, h: int, pixels: bytes) -> bytes:
    return b"P5\n# comment line\n%d %d\n255\n" % (w, h) + pixels


def test_decode_media_strict_pgm_p5_real_bytes(spark):
    """Strict mode decodes REAL image bytes (binary PGM) through the
    same mapInPandas plumbing — runnable in any environment via the
    built-in pure-Python decoder, no PIL required."""
    payload = _pgm_p5(16, 16, bytes([200]) * 256)
    rows = decode_media(_media_df(spark, payload), strict=True).collect()
    assert len(rows) == 1
    feat = rows[0].feature
    assert len(feat) == HIST_BINS
    # uniform luminance 200 -> all mass in bin 200 >> 4 == 12
    assert abs(feat[12] - 1.0) < 1e-9


def test_decode_media_strict_pgm_ascii_and_resize(spark):
    """ASCII P2 parsing + nearest-neighbor resize: a 32x8 gradient
    image must produce the same histogram as the reference numpy
    computation of the decode → resize → histogram chain."""
    import numpy as np

    from gerrydb_etl_spark.operators.multimodal import (
        _lum_histogram,
        _resize_nearest,
    )

    img = (np.arange(32 * 8, dtype=np.uint8).reshape(8, 32) * 7) % 256
    body = " ".join(str(v) for v in img.ravel())
    payload = (f"P2\n32 8\n255\n{body}\n").encode()
    expect = _lum_histogram(_resize_nearest(img)).tolist()
    rows = decode_media(_media_df(spark, payload), strict=True).collect()
    assert rows[0].feature == expect


def _bmp24(width: int, height: int, bgr_rows: bytes) -> bytes:
    """Minimal uncompressed 24-bit BMP: 14-byte file header +
    40-byte BITMAPINFOHEADER + raster (caller supplies padded
    bottom-up rows)."""
    off = 14 + 40
    header = (
        b"BM"
        + (off + len(bgr_rows)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(bgr_rows).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return header + bgr_rows


def test_decode_media_strict_bmp24(spark):
    """24-bit BMP: 16x16 uniform gray (B=G=R=100) decodes to luma
    100 -> all histogram mass in bin 100 >> 4 == 6. Stride for
    width 16 is 48 bytes (already 4-byte aligned)."""
    raster = bytes([100, 100, 100] * 16) * 16
    payload = _bmp24(16, 16, raster)
    rows = decode_media(_media_df(spark, payload), strict=True).collect()
    feat = rows[0].feature
    assert abs(feat[6] - 1.0) < 1e-9


def test_bmp_bottom_up_vs_top_down_orientation():
    """Decoder must flip bottom-up rasters (positive height) and
    leave top-down (negative height) as stored: the same raster
    bytes produce vertically mirrored images."""
    import numpy as np

    from gerrydb_etl_spark.operators.multimodal import _decode_bmp

    # 4x2: bottom row dark, top row bright (as the VIEWER sees it)
    bright, dark = bytes([220] * 3) * 4, bytes([10] * 3) * 4
    # bottom-up storage: first stored row is the BOTTOM of the image
    bottom_up = _bmp24(4, 2, dark + bright)
    img = _decode_bmp(bottom_up)
    assert img.shape == (2, 4)
    assert img[0, 0] > img[1, 0]  # top row bright
    top_down = _bmp24(4, -2, bright + dark)
    assert np.array_equal(_decode_bmp(top_down), img)


def test_pgm_comment_and_whitespace_parsing():
    import numpy as np

    from gerrydb_etl_spark.operators.multimodal import _decode_pgm

    payload = b"P5 # magic\n# a comment\n  2\t2 # dims\n255\n" + bytes(
        [1, 2, 3, 4]
    )
    assert np.array_equal(
        _decode_pgm(payload), np.array([[1, 2], [3, 4]], dtype=np.uint8)
    )
    with pytest.raises(NotImplementedError):
        _decode_pgm(b"P6\n2 2\n255\n" + bytes(12))  # PPM not PGM
    with pytest.raises(ValueError):
        _decode_pgm(_pgm_p5(4, 4, bytes(3)))  # truncated raster


def test_decode_media_deterministic(spark):
    docs = load_table(spark, SF_ORACLE, "documents").limit(5)
    a = {r.media_id: r.feature for r in decode_media(documents_as_media(docs)).collect()}
    b = {r.media_id: r.feature for r in decode_media(documents_as_media(docs)).collect()}
    assert a == b


def test_documents_corpus_is_ascii(spark):
    """The media_decode_features / media_frame_sample oracles equate
    characters with bytes (substr/ascii vs the Spark side's raw byte
    windows). That only holds for a pure-ASCII corpus — this guard
    makes a multibyte character entering the documents table fail
    loudly here instead of as an opaque hash mismatch in the driver
    correctness gate."""
    docs = load_table(spark, SF_ORACLE, "documents")
    non_ascii = docs.filter(
        F.octet_length("text") != F.length("text")
    ).count()
    assert non_ascii == 0


def test_pil_decode_kernel_contract_with_stub_codec(monkeypatch):
    """Driver-side contract test of the _pil_decode kernel glue
    (bytes -> Image.open -> grayscale -> 16x16 resize -> 16-bin
    luminance histogram, L1-normalized) with a stub codec injected
    into sys.modules. The real-PIL mapInPandas test above covers the
    same contract end-to-end when the library exists; this one keeps
    the kernel's wiring pinned in containers without it."""
    import sys
    import types

    import numpy as np

    class _StubImg:
        def __init__(self, lum):
            self._lum = lum

        def convert(self, mode):
            assert mode == "L"
            return self

        def resize(self, size):
            assert size == (16, 16)
            return self

        def __array__(self, dtype=None, copy=None):
            arr = np.full((16, 16), self._lum, dtype=np.uint8)
            return arr if dtype is None else arr.astype(dtype)

    stub_image = types.SimpleNamespace(
        open=lambda fh: _StubImg(lum=fh.read()[0])
    )
    stub_pil = types.ModuleType("PIL")
    stub_pil.Image = stub_image
    monkeypatch.setitem(sys.modules, "PIL", stub_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", stub_image)

    from gerrydb_etl_spark.operators.multimodal import _pil_decode

    feat = _pil_decode(bytes([200, 1, 2, 3]))
    assert feat.shape == (16,)
    # uniform luminance 200 -> all mass in bin 200 >> 4 == 12
    assert abs(feat[12] - 1.0) < 1e-12
    assert abs(feat.sum() - 1.0) < 1e-12

def test_decode_ppm_p6_gray_triples_match_pgm():
    """A P6 payload of gray (c,c,c) triples decodes to exactly the
    P2/P5 grayscale pixels — luma (c*299+c*587+c*114)//1000 == c —
    the identity media_strict_decode's two-format oracle rests on."""
    import numpy as np

    from gerrydb_etl_spark.operators.multimodal import _decode_pgm, _decode_ppm

    px = np.arange(256, dtype=np.uint8).reshape(16, 16)
    pgm = b"P5\n16 16\n255\n" + px.tobytes()
    ppm = b"P6\n16 16\n255\n" + px.repeat(3).tobytes()
    assert (_decode_ppm(ppm) == _decode_pgm(pgm)).all()


def test_decode_ppm_p3_ascii_luma():
    """ASCII P3: a 2x1 image with a pure-red and a pure-white pixel
    → luma floor(299*255/1000)=76 and 255."""
    from gerrydb_etl_spark.operators.multimodal import _decode_ppm

    payload = b"P3\n# c\n2 1\n255\n255 0 0  255 255 255\n"
    img = _decode_ppm(payload)
    assert img.shape == (1, 2)
    assert img[0, 0] == (255 * 299) // 1000 == 76
    assert img[0, 1] == 255


def test_decode_ppm_p6_strict_through_spark(spark):
    """Strict mapInPandas route for the P6 magic: uniform gray 200
    → all histogram mass in bin 12, same as the PGM twin."""
    payload = b"P6\n16 16\n255\n" + bytes([200, 200, 200]) * 256
    rows = decode_media(_media_df(spark, payload), strict=True).collect()
    assert abs(rows[0].feature[12] - 1.0) < 1e-9


def test_ascii_sample_above_maxval_raises():
    """A P2/P3 sample above maxval must raise, not wrap
    through the uint8 cast into a wrong histogram bin (F.ascii emits
    codepoints > 255 for non-ASCII text)."""
    import pytest

    from gerrydb_etl_spark.operators.multimodal import _decode_pgm, _decode_ppm

    with pytest.raises(ValueError, match="out of range"):
        _decode_pgm(b"P2\n2 1\n255\n300 10\n")
    with pytest.raises(ValueError, match="out of range"):
        _decode_pgm(b"P2\n2 1\n100\n101 10\n")  # > maxval, <= 255
    with pytest.raises(ValueError, match="out of range"):
        _decode_ppm(b"P3\n1 1\n255\n1 -2 3\n")

def _png(pixels, color_type: int, filters=None) -> bytes:
    """Minimal PNG encoder for tests: 8-bit, non-interlaced, one
    IDAT; `filters` picks the per-row filter type (default all 0)
    and applies the matching forward filter so the decoder's
    unfilter path for Sub/Up/Average/Paeth is exercised against
    ground-truth pixels."""
    import struct
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    stride = w * ch
    flat = px.reshape(h, stride).astype(np.int64)
    filters = filters or [0] * h
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        f = filters[y]
        line = flat[y]
        out = np.zeros(stride, dtype=np.int64)
        for x in range(stride):
            a = line[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[x] = (line[x] - pred) & 0xFF
        raw.append(f)
        raw.extend(out.astype(np.uint8).tobytes())
        prev = line

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_decode_png_gray_all_filters():
    """8-bit grayscale PNG with every filter type (None/Sub/Up/
    Average/Paeth, one per row) round-trips to the exact pixels."""
    import numpy as np

    from gerrydb_etl_spark.operators.multimodal import _decode_png

    px = ((np.arange(5 * 7).reshape(5, 7) * 37) % 256).astype(np.uint8)
    payload = _png(px, color_type=0, filters=[0, 1, 2, 3, 4])
    assert np.array_equal(_decode_png(payload), px)


def test_decode_png_rgb_and_rgba_luma():
    """RGB converts via the shared 299/587/114 luma; RGBA ignores
    alpha (PIL convert('L') parity on opaque images)."""
    import numpy as np

    from gerrydb_etl_spark.operators.multimodal import _decode_png

    rgb = np.zeros((2, 2, 3), dtype=np.uint8)
    rgb[0, 0] = (255, 0, 0)       # -> 76
    rgb[0, 1] = (0, 255, 0)       # -> 149
    rgb[1, 0] = (0, 0, 255)       # -> 29
    rgb[1, 1] = (200, 200, 200)   # -> 200
    expect = np.array([[76, 149], [29, 200]], dtype=np.uint8)
    assert np.array_equal(
        _decode_png(_png(rgb, 2, filters=[4, 3])), expect
    )
    rgba = np.dstack([rgb, np.full((2, 2), 7, np.uint8)])
    assert np.array_equal(_decode_png(_png(rgba, 6)), expect)


def test_decode_png_unsupported_is_honest():
    import pytest

    from gerrydb_etl_spark.operators.multimodal import _decode_png

    with pytest.raises(NotImplementedError, match="not a PNG"):
        _decode_png(b"GIF89a....")
    # palette (color type 3) is out of scope -> honest marker
    import struct, zlib

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    with pytest.raises(NotImplementedError, match="unsupported PNG"):
        _decode_png(payload)


def test_decode_media_strict_png_through_spark(spark):
    """Strict mapInPandas route for the PNG magic: uniform gray 200
    -> all histogram mass in bin 12, matching the PGM/PPM twins."""
    import numpy as np

    payload = _png(np.full((16, 16), 200, np.uint8), 0)
    rows = decode_media(_media_df(spark, payload), strict=True).collect()
    assert abs(rows[0].feature[12] - 1.0) < 1e-9


def test_dhash_chunks_basic_properties():
    import numpy as np
    import pytest

    from gerrydb_etl_spark.operators.multimodal import _dhash_chunks

    flat = np.full((16, 16), 32, np.uint8)
    assert _dhash_chunks(flat) == (0, 0, 0, 0)

    grad = np.tile(np.arange(16, dtype=np.uint8) * 16, (16, 1))
    c = _dhash_chunks(grad)
    # strictly increasing columns: only the wrap-around bit (c=7)
    # of each row is set -> bit r*8+7 -> 0x8080 in every chunk
    assert c == (0x8080, 0x8080, 0x8080, 0x8080)

    # one-pixel edit flips at most a few bits (perceptual locality)
    base = (np.arange(256, dtype=np.int64) * 7 % 251).astype(
        np.uint8
    ).reshape(16, 16)
    edited = base.copy()
    edited[3, 5] = 255
    h1, h2 = _dhash_chunks(base), _dhash_chunks(edited)
    ham = sum(bin(a ^ b).count("1") for a, b in zip(h1, h2))
    assert 0 < ham <= 4

    with pytest.raises(ValueError, match="at least 8x8"):
        _dhash_chunks(np.zeros((4, 16), np.uint8))


def test_perceptual_dhash_matches_kernel_through_spark(spark):
    """The mapInPandas route returns exactly _dhash_chunks of the
    strictly-decoded pixels, for both a P5 PGM and a BMP payload."""
    import numpy as np

    from gerrydb_etl_spark.operators.multimodal import (
        _dhash_chunks,
        perceptual_dhash,
    )

    px = (np.arange(256, dtype=np.int64) * 11 % 256).astype(
        np.uint8
    ).reshape(16, 16)
    pgm = b"P5\n16 16\n255\n" + px.tobytes()
    rows = perceptual_dhash(_media_df(spark, pgm)).collect()
    assert (rows[0].c0, rows[0].c1, rows[0].c2, rows[0].c3) == _dhash_chunks(
        px
    )


def test_decode_png_truncated_chunk_raises_clearly():
    """A corrupt chunk length must fail as 'truncated PNG chunk' at
    the chunk walk, not surface later as a confusing
    zlib error from a silently truncated IDAT."""
    import struct

    import numpy as np
    import pytest

    from gerrydb_etl_spark.operators.multimodal import _decode_png

    px = ((np.arange(4 * 4).reshape(4, 4) * 31) % 256).astype(np.uint8)
    payload = bytearray(_png(px, color_type=0, filters=[0, 0, 0, 0]))
    # find the IDAT chunk and inflate its declared length past EOF
    idat_at = bytes(payload).index(b"IDAT") - 4
    payload[idat_at : idat_at + 4] = struct.pack(">I", 10_000_000)
    with pytest.raises(ValueError, match="truncated PNG chunk"):
        _decode_png(bytes(payload))


def test_sample_frames_empty_payload_yields_no_frames(spark):
    from gerrydb_etl_spark.operators.multimodal import sample_frames

    docs = spark.createDataFrame(
        [(1, "", "en", "s", 0), (2, "abc", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = sample_frames(documents_as_media(docs)).collect()
    assert {r.media_id for r in rows} == {2}
