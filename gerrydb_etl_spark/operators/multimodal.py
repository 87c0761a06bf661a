"""Multimodal column plumbing: opaque binary payloads + typed
metadata, processed in Arrow-batched pandas over mapInPandas.

Design (per the brief): image/audio/video payloads are `binary`
columns with typed metadata columns beside them. Decode paths, in
order of preference: built-in pure-Python decoders for PGM (P2/P5),
PPM (P3/P6), 8-bit non-interlaced PNG (stdlib zlib) and
uncompressed 24-bit BMP (strict mode runnable in ANY
environment, bit-exact); PIL for every other image format when
importable; a clearly-marked NotImplementedError for formats no
available codec covers; and a deterministic fake featureizer (byte
histogram) as the non-strict mode. Everything Spark-side is real
and tested: schema, Arrow batch shapes, partition behavior, and
the mapInPandas iterator contract.

Scale notes: mapInPandas streams Arrow batches (no per-row pickling);
payload bytes never hit the driver; the featureizer is a narrow map
(zero shuffles). At 100 TB the only knob is batch size
(spark.sql.execution.arrow.maxRecordsPerBatch) vs payload size.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

HIST_BINS = 16

try:  # real codec path — absent in this container, gated not assumed
    import PIL.Image  # noqa: F401

    HAS_PIL = True
except ImportError:
    HAS_PIL = False

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video | text
        T.StructField("payload", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapt the documents table into the media shape: UTF-8 payload
    bytes + metadata. Stands in for real image/audio ingestion."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )


def _fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for a codec: 16-bin byte histogram,
    L1-normalized. Replace with a real decoder (PIL/librosa/ffmpeg)
    where available."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr >> 4, minlength=HIST_BINS).astype(np.float64)
    total = hist.sum()
    return hist / total if total else hist


def _pil_decode(payload: bytes) -> np.ndarray:
    """Real image decode (only when PIL is importable): decode →
    grayscale → 16x16 resize → 16-bin luminance histogram,
    L1-normalized — same output contract as the fake path, so the
    Spark plumbing (FEATURE_SCHEMA, Arrow batches) is identical."""
    import io

    import PIL.Image

    img = PIL.Image.open(io.BytesIO(payload)).convert("L").resize((16, 16))
    lum = np.asarray(img, dtype=np.uint8).ravel()
    hist = np.bincount(lum >> 4, minlength=HIST_BINS).astype(np.float64)
    total = hist.sum()
    return hist / total if total else hist


_PGM_WS = (b" ", b"\t", b"\r", b"\n")


def _pnm_tokenizer(data: bytes):
    """Whitespace/comment-aware token reader shared by the netpbm
    header + ASCII-raster parsers; returns (tok, pos) where pos[0]
    tracks the byte offset after the last token (binary rasters
    start one whitespace byte past it)."""
    pos = [0]

    def tok() -> bytes:
        i, n = pos[0], len(data)
        while i < n:
            b = data[i : i + 1]
            if b in _PGM_WS:
                i += 1
            elif b == b"#":  # comment runs to end of line
                while i < n and data[i : i + 1] not in (b"\r", b"\n"):
                    i += 1
            else:
                break
        j = i
        while j < n and data[j : j + 1] not in _PGM_WS:
            j += 1
        pos[0] = j
        return data[i:j]

    return tok, pos


def _decode_pgm(data: bytes) -> np.ndarray:
    """Dependency-free PGM decoder (binary P5 and ASCII P2, 8-bit
    maxval), returning the 2-D uint8 grayscale pixel array. PGM is
    the simplest real raster format (netpbm); parsing it here makes
    strict-mode decode runnable in ANY environment, with bit-exact
    deterministic output (no library version in the loop)."""
    tok, pos = _pnm_tokenizer(data)
    magic = tok()
    if magic not in (b"P2", b"P5"):
        raise NotImplementedError(f"not a PGM payload: magic {magic!r}")
    w, h, maxval = int(tok()), int(tok()), int(tok())
    if not (0 < w and 0 < h and 0 < maxval < 256):
        raise NotImplementedError(
            f"unsupported PGM geometry w={w} h={h} maxval={maxval} "
            "(16-bit samples not implemented)"
        )
    if magic == b"P5":
        # exactly ONE whitespace byte separates maxval from raster
        start = pos[0] + 1
        if len(data) < start + w * h:
            raise ValueError("truncated P5 raster")
        px = np.frombuffer(data, dtype=np.uint8, count=w * h, offset=start)
    else:
        px = _ascii_raster(data, tok, pos, w * h, maxval)
    return px.reshape(h, w)


# bytes an ASCII raster may hold for the vectorised read: digits and
# the netpbm whitespace the token reader skips
_DIGITS_AND_WS = b"0123456789" + b"".join(_PGM_WS)


def _ascii_raster(data: bytes, tok, pos, count: int, maxval: int) -> np.ndarray:
    """The ASCII raster after the header: ``count`` samples, range-
    checked like ``_ascii_samples``. A raster of only digits and
    netpbm whitespace holding at least ``count`` tokens is read with
    one ``bytes.split()`` and one int64 array (the same first
    ``count`` tokens the reader would take); anything else — a
    comment, a sign, another byte, a short raster — goes through the
    token reader, so its errors are unchanged."""
    raster = data[pos[0]:]
    if not raster.translate(None, _DIGITS_AND_WS):
        tokens = raster.split()
        if len(tokens) >= count:
            return _in_range(np.array(tokens[:count], dtype=np.int64), maxval)
    return _ascii_samples(tok, count, maxval)


def _ascii_samples(tok, count: int, maxval: int) -> np.ndarray:
    """Parse ``count`` ASCII netpbm samples with the token reader."""
    vals = np.array([int(tok()) for _ in range(count)], dtype=np.int64)
    return _in_range(vals, maxval)


def _in_range(vals: np.ndarray, maxval: int) -> np.ndarray:
    """Range-check samples against maxval BEFORE the uint8 cast — a
    bare astype would silently wrap values > 255 (e.g. non-ASCII
    codepoints fed through F.ascii) into wrong histogram bins instead
    of failing loudly."""
    if vals.size and (vals.min() < 0 or vals.max() > maxval):
        raise ValueError(
            f"ASCII netpbm sample out of range [0, {maxval}]: "
            f"min={vals.min()} max={vals.max()}"
        )
    return vals.astype(np.uint8)


def _decode_ppm(data: bytes) -> np.ndarray:
    """Dependency-free PPM decoder (binary P6 and ASCII P3, 8-bit
    maxval), returning the 2-D uint8 grayscale array via the same
    ITU-R 601-2 luma transform as the BMP path
    ((R*299 + G*587 + B*114) // 1000). PPM is the netpbm color
    sibling of PGM — covering it widens strict-mode real-format
    coverage with ~20 lines and zero dependencies."""
    tok, pos = _pnm_tokenizer(data)
    magic = tok()
    if magic not in (b"P3", b"P6"):
        raise NotImplementedError(f"not a PPM payload: magic {magic!r}")
    w, h, maxval = int(tok()), int(tok()), int(tok())
    if not (0 < w and 0 < h and 0 < maxval < 256):
        raise NotImplementedError(
            f"unsupported PPM geometry w={w} h={h} maxval={maxval} "
            "(16-bit samples not implemented)"
        )
    n_samples = w * h * 3
    if magic == b"P6":
        start = pos[0] + 1  # one whitespace byte after maxval
        if len(data) < start + n_samples:
            raise ValueError("truncated P6 raster")
        px = np.frombuffer(data, dtype=np.uint8, count=n_samples, offset=start)
    else:
        px = _ascii_raster(data, tok, pos, n_samples, maxval)
    rgb = px.reshape(h, w, 3).astype(np.uint32)
    lum = (rgb[..., 0] * 299 + rgb[..., 1] * 587 + rgb[..., 2] * 114) // 1000
    return lum.astype(np.uint8)


def _decode_bmp(data: bytes) -> np.ndarray:
    """Dependency-free decoder for uncompressed 24-bit BMP (the
    plain Windows bitmap every tool can write), returning the 2-D
    uint8 grayscale array via the ITU-R 601-2 luma transform
    (R*299 + G*587 + B*114) // 1000 — same weights as PIL's 'L'."""
    if data[:2] != b"BM":
        raise NotImplementedError(f"not a BMP payload: magic {data[:2]!r}")
    off = int.from_bytes(data[10:14], "little")
    width = int.from_bytes(data[18:22], "little", signed=True)
    height = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    comp = int.from_bytes(data[30:34], "little")
    if bpp != 24 or comp != 0 or width <= 0 or height == 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP supported (bpp={bpp}, "
            f"compression={comp})"
        )
    top_down, h = height < 0, abs(height)
    stride = (width * 3 + 3) // 4 * 4  # rows pad to 4-byte boundaries
    if len(data) < off + stride * h:
        raise ValueError("truncated BMP raster")
    rows = np.frombuffer(
        data, dtype=np.uint8, count=stride * h, offset=off
    ).reshape(h, stride)
    bgr = rows[:, : width * 3].reshape(h, width, 3).astype(np.uint32)
    if not top_down:  # bottom-up storage is the BMP default
        bgr = bgr[::-1]
    lum = (bgr[..., 2] * 299 + bgr[..., 1] * 587 + bgr[..., 0] * 114) // 1000
    return lum.astype(np.uint8)


def _decode_png(data: bytes) -> np.ndarray:
    """Dependency-free PNG decoder (stdlib zlib only): 8-bit
    grayscale (color type 0), RGB (2), gray+alpha (4) and RGBA (6),
    non-interlaced, all five scanline filters (None/Sub/Up/Average/
    Paeth). Color converts through the same ITU-R 601-2 luma as the
    BMP/PPM paths; alpha is ignored (decode parity with PIL's
    convert('L') on opaque images). Palette, 16-bit and interlaced
    images raise NotImplementedError — the honest marker, never a
    wrong answer."""
    import struct
    import zlib

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise NotImplementedError(f"not a PNG payload: magic {data[:8]!r}")
    pos, ihdr, idat = 8, None, b""
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos : pos + 4]), data[
            pos + 4 : pos + 8
        ]
        if pos + 12 + length > len(data):
            # a corrupt declared length would otherwise silently
            # truncate the body and end the loop before IEND,
            # surfacing later as a confusing zlib error
            raise ValueError(
                f"truncated PNG chunk: {ctype!r} declares {length} "
                f"bytes but only {len(data) - pos - 12} remain"
            )
        body = data[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length  # len + type + body + crc
    if ihdr is None:
        raise ValueError("PNG missing IHDR chunk")
    w, h, depth, color, comp, filt, interlace = ihdr
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
    if depth != 8 or channels is None or comp != 0 or filt != 0 or interlace != 0:
        raise NotImplementedError(
            f"unsupported PNG (depth={depth} color={color} "
            f"interlace={interlace}): built-in decoder covers 8-bit "
            "gray/RGB/gray-alpha/RGBA, non-interlaced"
        )
    raw = zlib.decompress(idat)
    stride = w * channels
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG raster")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int64)
        cur = np.zeros(stride, dtype=np.int64)
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need a scan
            pv = prev.astype(np.int64)
            for x in range(stride):
                a = cur[x - channels] if x >= channels else 0
                b = pv[x]
                if ftype == 1:
                    v = line[x] + a
                elif ftype == 3:
                    v = line[x] + (a + b) // 2
                else:
                    c = pv[x - channels] if x >= channels else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    v = line[x] + pred
                cur[x] = v & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = out[y]
    px = out.reshape(h, w, channels)
    if channels == 1:
        return px[..., 0]
    if channels == 2:  # gray + alpha
        return px[..., 0]
    rgb = px[..., :3].astype(np.uint32)
    lum = (rgb[..., 0] * 299 + rgb[..., 1] * 587 + rgb[..., 2] * 114) // 1000
    return lum.astype(np.uint8)


def _resize_nearest(img: np.ndarray, size: int = 16) -> np.ndarray:
    """Nearest-neighbor downsample to size x size — deterministic
    integer index arithmetic (no interpolation library in the loop)."""
    h, w = img.shape
    if (h, w) == (size, size):
        return img
    r = (np.arange(size) * h) // size
    c = (np.arange(size) * w) // size
    return img[np.ix_(r, c)]


def _lum_histogram(img: np.ndarray) -> np.ndarray:
    """16-bin L1-normalized luminance histogram of a grayscale
    array — the shared feature contract of every decode path."""
    lum = img.ravel()
    hist = np.bincount(lum >> 4, minlength=HIST_BINS).astype(np.float64)
    total = hist.sum()
    return hist / total if total else hist


def _strict_decode(payload: bytes) -> np.ndarray:
    """Strict (real-codec) decode kernel. Format routing:

    * PGM (P2/P5), PPM (P3/P6) and 24-bit BMP ALWAYS take the
      built-in pure-Python decoders — bit-exact and
      environment-independent, so a strict decode query over these
      formats has a stable oracle whether or not PIL is installed
      (PIL's resize is bicubic; ours is deterministic
      nearest-neighbor).
    * Everything else goes to PIL when importable, and otherwise
      raises NotImplementedError — the honest marker that this
      environment cannot decode that format, never a silent fake.
    """
    data = bytes(payload)
    if data[:2] not in (b"P2", b"P3", b"P5", b"P6") and data[:2] != b"BM" \
            and data[:8] != b"\x89PNG\r\n\x1a\n" and HAS_PIL:
        return _pil_decode(data)
    return _lum_histogram(_resize_nearest(_strict_pixels(data)))


def _strict_pixels(payload: bytes) -> np.ndarray:
    """Strict decode to the raw 2-D grayscale pixel array (no resize,
    no histogram) — the shared routing core of _strict_decode and
    perceptual_dhash. Same codec contract: built-in pure-Python
    decoders for the netpbm/BMP/PNG formats, NotImplementedError
    for anything else (the PIL fallback lives in _strict_decode
    only, because PIL resizes before we could hash raw pixels)."""
    data = bytes(payload)
    if data[:2] in (b"P2", b"P5"):
        return _decode_pgm(data)
    if data[:2] in (b"P3", b"P6"):
        return _decode_ppm(data)
    if data[:2] == b"BM":
        return _decode_bmp(data)
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(data)
    raise NotImplementedError(
        f"no codec for payload with magic {data[:2]!r}: built-in decoders "
        "cover PGM (P2/P5), PPM (P3/P6), 8-bit non-interlaced PNG and "
        "uncompressed 24-bit BMP; PIL/librosa/ffmpeg are required for "
        "other formats and are not importable here"
    )


def decode_media(
    df: DataFrame,
    frame_bytes: int = 64,
    strict: bool = False,
) -> DataFrame:
    """Decode/feature-extract media payloads via mapInPandas.

    ``frame_bytes`` fakes frame sampling: n_frames = ceil(len/frame).
    ``strict=True`` demands a REAL codec: PGM/BMP payloads decode
    through the built-in pure-Python decoders (runnable in any
    environment), other formats through PIL when importable; a
    payload no available codec understands raises
    NotImplementedError from the worker — the honest marker that the
    environment cannot decode it, never a silent fall-back to the
    deterministic fake.
    """
    kernel = _strict_decode if strict else _fake_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [kernel(p).tolist() for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["n_bytes"],
                    "feature": feats,
                    "n_frames": (
                        (pdf["n_bytes"] + frame_bytes - 1) // frame_bytes
                    ).astype("int32"),
                }
            )

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_len", T.IntegerType()),
        T.StructField("frame_sha", T.StringType()),
    ]
)


def sample_frames(df: DataFrame, frame_bytes: int = 64) -> DataFrame:
    """Frame sampling: explode each payload into fixed-size byte
    windows ("frames"), one output row per frame with its index,
    length (last frame may be short) and content hash. Real codecs
    would decode actual frame boundaries; the windowing, Arrow batch
    explosion, and per-frame hashing plumbing is what production
    shares. Narrow map — output rows stay within the input's
    partitioning, no shuffle."""
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, lens, shas = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(payload)
                # empty payload -> zero frames, consistent with
                # decode_media's n_frames = ceil(0/frame) = 0 and the
                # SQL oracle's generate_series(1, 0) = empty
                for i in range(0, len(data), frame_bytes):
                    frame = data[i : i + frame_bytes]
                    ids.append(mid)
                    idxs.append(i // frame_bytes)
                    lens.append(len(frame))
                    shas.append(hashlib.sha256(frame).hexdigest())
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_len": pd.Series(lens, dtype="int32"),
                    "frame_sha": pd.Series(shas, dtype=object),
                }
            )

    return df.mapInPandas(run, schema=FRAME_SCHEMA)


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("c0", T.IntegerType()),
        T.StructField("c1", T.IntegerType()),
        T.StructField("c2", T.IntegerType()),
        T.StructField("c3", T.IntegerType()),
    ]
)


def _dhash_chunks(px: np.ndarray) -> tuple[int, int, int, int]:
    """64-bit difference hash of a grayscale image, returned as four
    16-bit chunks (chunk k = bits [16k, 16k+16) — int-safe in every
    engine, and directly usable as pigeonhole blocking keys).

    Grid: partition rows and columns into 8 contiguous near-equal
    bands (band r covers [r*h//8, (r+1)*h//8)), block value = pixel
    sum // block size (floor). Bit r*8+c is set iff
    g[r][c] > g[r][(c+1) % 8] — the wrap-around column closes the
    comparison ring so all 64 bits are defined (classic dHash uses a
    9th column; the ring keeps the grid square and the oracle
    replay simple). Pure integer arithmetic — deterministic across
    numpy, Spark and DuckDB."""
    h, w = px.shape
    if h < 8 or w < 8:
        raise ValueError(f"dhash needs an image of at least 8x8, got {h}x{w}")
    # band starts (strictly increasing once h, w >= 8): reduceat sums
    # each band, rows then columns, in exact int64 arithmetic
    rows = np.arange(8) * h // 8
    cols = np.arange(8) * w // 8
    sums = np.add.reduceat(
        np.add.reduceat(px.astype(np.int64), rows, axis=0), cols, axis=1
    )
    g = sums // np.outer(np.diff(rows, append=h), np.diff(cols, append=w))
    bits = (g > np.roll(g, -1, axis=1)).astype(np.uint64).ravel()
    fp = int((bits << np.arange(64, dtype=np.uint64)).sum())
    return tuple((fp >> (16 * k)) & 0xFFFF for k in range(4))


def perceptual_dhash(df: DataFrame) -> DataFrame:
    """Per-image 64-bit dHash over strictly-decoded pixels, as four
    16-bit chunk columns (media_id, c0..c3).

    The decode runs through the SAME built-in strict codecs as
    decode_media(strict=True) (_strict_pixels — netpbm/BMP/PNG on
    real bytes, never a fake); the hash itself is _dhash_chunks.
    mapInPandas keeps it a narrow map: Arrow batches in, four small
    ints out per image, payload bytes never shuffled or collected.
    At 100 TB the fingerprint table is ~40 bytes/image — the
    downstream Hamming join works on that, not on pixels."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            chunks = [_dhash_chunks(_strict_pixels(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "c0": np.array([c[0] for c in chunks], dtype=np.int32),
                    "c1": np.array([c[1] for c in chunks], dtype=np.int32),
                    "c2": np.array([c[2] for c in chunks], dtype=np.int32),
                    "c3": np.array([c[3] for c in chunks], dtype=np.int32),
                }
            )

    return df.mapInPandas(run, schema=DHASH_SCHEMA)
