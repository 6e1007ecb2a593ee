"""Multimodal column plumbing (SURVEY.md / driver north star): treat
image/audio/video payloads as opaque ``binary`` columns with typed
metadata, and run decode / feature-extraction as Arrow-batched Pandas UDFs
over ``mapInPandas``.

The container has no imaging libraries, but most of this module is real
anyway, in two tiers:

- **Header metadata** (format/width/height, WAV sample rate, MP4
  duration): parsed from container bytes for PNG/JPEG/GIF/BMP/WAV/MP4 —
  pure stdlib.
- **Pixels**: PNG is zlib (stdlib) over filtered scanlines, uncompressed
  BMP is raw bytes, GIF is LZW — implemented here in pure stdlib
  (``_lzw_decode``: variable code width to 12 bits, CLEAR/END handling,
  KwKwK case, 4-pass de-interlace) — and baseline JPEG is Huffman + 8x8
  IDCT, implemented in ``llm.jpeg`` (SOF0/SOF1, 4:4:4/4:2:2/4:2:0,
  grayscale, restart markers, 16-bit DQT). Pixel decode, nearest-neighbor
  resize, 8x8 aHash perceptual hashing, and PNG re-encode are therefore
  REAL for all four image formats (``decode_pixels`` / ``resize_nearest``
  / ``average_hash`` / ``png_encode``).

Only video frame demuxing remains stubbed (progressive JPEG falls back
to header metadata): those paths raise ``NotImplementedError`` unless
``deterministic_fake=True``, which produces seeded fake features from
the payload bytes. Everything Spark-side — schema, batch iteration,
partitioning, UDF signatures — is real and tested (tests/test_llm.py).

Scale notes: binary payloads ride in parquet as plain byte arrays;
``mapInPandas`` streams Arrow record batches, so executor memory is bounded
by batch size (``spark.sql.execution.arrow.maxRecordsPerBatch``), not
partition size. Feature extraction is embarrassingly parallel — zero
shuffles.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..catalog import load_table
from ..registry import register

#: Output schema of the decode/feature stage — stable contract for sinks.
IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("format", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("phash", StringType()),
    ]
)


def parse_image_meta(payload: bytes) -> dict | None:
    """REAL header-level decode: (format, width, height) from raw bytes.

    Pure stdlib — container formats carry their dimensions in fixed header
    fields, so no imaging library is needed for metadata:

    - PNG: 8-byte signature, then the IHDR chunk holds width/height as
      big-endian uint32 at byte offsets 16/20.
    - JPEG: SOI ``FF D8`` then a marker walk; any SOFn frame header
      (C0–CF except C4/C8/CC) holds height/width as big-endian uint16
      at offsets +5/+7 from the marker.
    - GIF: ``GIF87a``/``GIF89a``, logical-screen width/height as
      little-endian uint16 at offsets 6/8.
    - BMP: ``BM``, BITMAPINFOHEADER width/height as little-endian int32
      at offsets 18/22.

    Returns None for unrecognized payloads (caller decides fake vs raise).
    """
    n = len(payload)
    if n >= 24 and payload[:8] == b"\x89PNG\r\n\x1a\n":
        return {
            "format": "png",
            "width": int.from_bytes(payload[16:20], "big"),
            "height": int.from_bytes(payload[20:24], "big"),
        }
    if n >= 4 and payload[:2] == b"\xff\xd8":
        i = 2
        while i + 9 < n:
            if payload[i] != 0xFF:  # resync on stray fill bytes
                i += 1
                continue
            marker = payload[i + 1]
            if marker == 0xFF:
                i += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length
                continue
            if marker == 0xD9:  # EOI before any SOF
                break
            seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                return {
                    "format": "jpeg",
                    "height": int.from_bytes(payload[i + 5 : i + 7], "big"),
                    "width": int.from_bytes(payload[i + 7 : i + 9], "big"),
                }
            if seg_len < 2:
                break
            i += 2 + seg_len
        return None
    if n >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        return {
            "format": "gif",
            "width": int.from_bytes(payload[6:8], "little"),
            "height": int.from_bytes(payload[8:10], "little"),
        }
    if n >= 26 and payload[:2] == b"BM":
        return {
            "format": "bmp",
            "width": int.from_bytes(payload[18:22], "little", signed=True),
            "height": abs(int.from_bytes(payload[22:26], "little", signed=True)),
        }
    return None


# -- real pixel codecs (pure stdlib + numpy) --------------------------------
#
# The container has no imaging library, but PNG is just zlib (stdlib) over
# filtered scanlines and uncompressed BMP is raw bytes — so pixel-level
# decode, resize, perceptual hash, and PNG re-encode are implementable for
# real. Coverage: PNG 8-bit gray/gray+alpha/RGB/RGBA non-interlaced;
# BMP 24-bit BI_RGB. Everything else returns None and callers fall back to
# the deterministic-fake path (or raise).


def _png_decode_pixels(payload: bytes) -> np.ndarray | None:
    """PNG → (H, W, C) uint8 array, or None if not a decodable PNG.

    8-bit, non-interlaced, color types 0/2/4/6. All five scanline filters
    are implemented; None/Up are vectorized and Sub is a per-channel
    cumulative sum, so images written by common encoders (and by
    ``_png_encode`` below, filter 0) decode at numpy speed — only
    Average/Paeth rows fall back to a scalar loop (sequential data
    dependency).
    """
    if len(payload) < 8 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    i, n = 8, len(payload)
    ihdr: bytes | None = None
    idat = bytearray()
    while i + 8 <= n:
        ln = int.from_bytes(payload[i : i + 4], "big")
        typ = payload[i + 4 : i + 8]
        body = payload[i + 8 : i + 8 + ln]
        if typ == b"IHDR":
            ihdr = body
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
        i += 12 + ln  # length + type + body + crc
    if ihdr is None or len(ihdr) < 13 or not idat:
        return None
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    bit_depth, color_type, _comp, _filt, interlace = ihdr[8:13]
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    if bit_depth != 8 or interlace != 0 or channels is None or not (w and h):
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    stride = w * channels
    if len(raw) < h * (stride + 1):
        return None
    rows = np.frombuffer(raw[: h * (stride + 1)], dtype=np.uint8).reshape(
        h, stride + 1
    )
    filters = rows[:, 0]
    data = rows[:, 1:]
    out = np.zeros((h, stride), dtype=np.uint8)
    bpp = channels
    prior = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = int(filters[y])
        line = data[y].astype(np.int32)
        if f == 0:
            rec = line
        elif f == 2:  # Up
            rec = line + prior
        elif f == 1:  # Sub: per-channel prefix sum mod 256
            rec = np.cumsum(line.reshape(w, bpp), axis=0, dtype=np.int64).reshape(
                stride
            )
        else:  # Average (3) / Paeth (4): sequential dependency
            rec = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = int(rec[x - bpp]) & 0xFF if x >= bpp else 0
                b = int(prior[x]) & 0xFF
                if f == 3:
                    pred = (a + b) >> 1
                elif f == 4:
                    c = int(prior[x - bpp]) & 0xFF if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                else:
                    return None  # unknown filter byte
                rec[x] = line[x] + pred
        out[y] = rec & 0xFF
        prior = out[y].astype(np.int32)
    return out.reshape(h, w, channels)


def _bmp_decode_pixels(payload: bytes) -> np.ndarray | None:
    """BMP (24-bit uncompressed BI_RGB) → (H, W, 3) uint8 RGB, else None."""
    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    data_off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h_raw = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0 or w <= 0 or h_raw == 0:
        return None
    h = abs(h_raw)
    stride = (w * 3 + 3) & ~3  # rows pad to 4 bytes
    px = payload[data_off : data_off + stride * h]
    if len(px) < stride * h:
        return None
    arr = (
        np.frombuffer(px, dtype=np.uint8)
        .reshape(h, stride)[:, : w * 3]
        .reshape(h, w, 3)
    )
    if h_raw > 0:  # positive height = bottom-up row order
        arr = arr[::-1]
    return arr[..., ::-1].copy()  # BGR → RGB


def _lzw_decode(min_code_size: int, data: bytes, npix: int) -> list[int] | None:
    """GIF-variant LZW (LSB-first bit packing, CLEAR/END codes, code
    width grows to 12 bits) → pixel index stream. Pure stdlib."""
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    table: dict[int, list[int]] = {i: [i] for i in range(clear)}
    next_code = end + 1
    out: list[int] = []
    prev: list[int] | None = None
    bitpos = 0
    total_bits = len(data) * 8
    while len(out) < npix and bitpos + code_size <= total_bits:
        byte_i = bitpos // 8
        window = int.from_bytes(data[byte_i : byte_i + 3], "little")
        code = (window >> (bitpos % 8)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            code_size = min_code_size + 1
            table = {i: [i] for i in range(clear)}
            next_code = end + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code not in table:
                return None
            entry = table[code]
        else:
            if code in table:
                entry = table[code]
            elif code == next_code:  # the KwKwK case
                entry = prev + [prev[0]]
            else:
                return None
            if next_code < 4096:
                table[next_code] = prev + [entry[0]]
                next_code += 1
                if next_code == (1 << code_size) and code_size < 12:
                    code_size += 1
        out.extend(entry)
        prev = entry
    return out if len(out) >= npix else None


#: GIF interlace passes: (row offset, row step) in output order.
_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_decode_pixels(payload: bytes) -> np.ndarray | None:
    """GIF87a/89a first frame → (H, W, 3) uint8 RGB via pure-stdlib LZW
    (sub-block reassembly, palette lookup, 4-pass de-interlace)."""
    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    packed = payload[10]
    pos = 13
    global_pal = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        global_pal = payload[pos : pos + 3 * n]
        pos += 3 * n
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension: label + length-prefixed sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            if pos + 10 > len(payload):
                return None
            w = int.from_bytes(payload[pos + 5 : pos + 7], "little")
            h = int.from_bytes(payload[pos + 7 : pos + 9], "little")
            ipacked = payload[pos + 9]
            pos += 10
            pal = global_pal
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                pal = payload[pos : pos + 3 * n]
                pos += 3 * n
            if pal is None or w == 0 or h == 0:
                return None
            min_code_size = payload[pos]
            pos += 1
            chunks = []
            while pos < len(payload) and payload[pos] != 0:
                ln = payload[pos]
                chunks.append(payload[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            idx = _lzw_decode(min_code_size, b"".join(chunks), w * h)
            if idx is None:
                return None
            pal_arr = np.frombuffer(pal, dtype=np.uint8).reshape(-1, 3)
            flat = np.asarray(idx[: w * h], dtype=np.int64)
            if flat.max(initial=0) >= len(pal_arr):
                return None
            img = pal_arr[flat].reshape(h, w, 3)
            if ipacked & 0x40:  # interlaced: rows arrive in 4 passes
                order = [
                    y
                    for off, step in _GIF_INTERLACE
                    for y in range(off, h, step)
                ]
                out = np.empty_like(img)
                out[order] = img
                img = out
            return img.copy()
        else:  # trailer (0x3B) or junk
            return None
    return None


def decode_pixels(payload: bytes) -> np.ndarray | None:
    """Real pixel decode → (H, W, C) uint8, or None if format unsupported."""
    if payload[:2] == b"BM":
        return _bmp_decode_pixels(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _gif_decode_pixels(payload)
    if payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg_pixels

        return decode_jpeg_pixels(payload)
    return _png_decode_pixels(payload)


def block_mean_thumb(px: np.ndarray) -> np.ndarray:
    """(H, W[, C]) pixels → (ceil(H/8), ceil(W/8)) uint8 grayscale of
    8x8-block means — the same thumbnail a JPEG's DC plane stores, so the
    two ``decode_image_thumb`` branches are comparable. Edges pad by
    replication (matching the JPEG encoder's padding convention)."""
    g = px.mean(axis=2) if px.ndim == 3 else px.astype(np.float64)
    h, w = g.shape
    bh, bw = -(-h // 8), -(-w // 8)
    if h % 8 or w % 8:
        p = np.empty((bh * 8, bw * 8))
        p[:h, :w] = g
        p[h:, :w] = g[h - 1 : h, :]
        p[:, w:] = p[:, w - 1 : w]
        g = p
    m = g.reshape(bh, 8, bw, 8).mean(axis=(1, 3))
    return np.clip(np.rint(m), 0, 255).astype(np.uint8)


def decode_image_thumb(payload: bytes) -> np.ndarray | None:
    """1/8-scale grayscale thumbnail — the cheapest decode that still
    feeds a perceptual hash. JPEG payloads skip the IDCT entirely
    (``decode_jpeg_dc``); PNG/BMP/GIF decode once (zlib/LZW are C-speed)
    and block-mean in vectorized numpy."""
    if payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg_dc

        return decode_jpeg_dc(payload)
    px = decode_pixels(payload)
    return None if px is None else block_mean_thumb(px)


def png_encode(img: np.ndarray) -> bytes:
    """(H, W[, C]) uint8 → PNG bytes (filter 0, stdlib zlib). Round-trips
    through ``_png_decode_pixels`` bit-exactly."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (
            len(body).to_bytes(4, "big")
            + typ
            + body
            + zlib.crc32(typ + body).to_bytes(4, "big")
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def resize_nearest(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize by integer index sampling — deterministic
    (pure integer source-index math, no float rounding ambiguity)."""
    h, w = img.shape[:2]
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return img[ys][:, xs]


def average_hash(img: np.ndarray) -> str:
    """64-bit aHash as 16 hex chars: downsample to 8x8 grayscale, threshold
    each cell against the mean. A true *perceptual* hash (stable under
    re-encode and resize), unlike the md5 content hash."""
    g = img.mean(axis=2) if img.ndim == 3 else img.astype(np.float64)
    small = resize_nearest(g, 8, 8)
    bits = (small >= small.mean()).flatten()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return f"{v:016x}"


def decode_image_stub(payload: bytes, *, deterministic_fake: bool = False) -> dict:
    """Decode an image payload → (format, width, height, phash).

    Metadata (format/width/height) is REAL for PNG/JPEG/GIF/BMP payloads
    via ``parse_image_meta`` — parsed from header bytes, no imaging
    library. When the pixels themselves decode (PNG 8-bit / BMP 24-bit /
    GIF via pure-stdlib LZW / baseline JPEG via pure-stdlib Huffman+IDCT,
    ``decode_pixels``) the phash is a REAL perceptual hash (8x8 aHash);
    for the remaining header-only cases (progressive JPEG) it falls back
    to an md5-prefix content hash. Unrecognized payloads fall
    back to md5-seeded fake dimensions when ``deterministic_fake=True``
    (stable across runs/engines — exercises the pipeline on synthetic
    text-byte payloads), else raise.
    """
    digest = hashlib.md5(payload).hexdigest()
    meta = parse_image_meta(payload)
    if meta is not None:
        px = decode_pixels(payload)
        phash = average_hash(px) if px is not None else digest[:16]
        return {**meta, "phash": phash}
    if not deterministic_fake:
        raise NotImplementedError(
            "unrecognized image format: header parsing covers PNG/JPEG/GIF/BMP; "
            "run with deterministic_fake=True for pipeline tests"
        )
    return {
        "format": "fake",
        "width": int(digest[:4], 16) % 1920 + 1,
        "height": int(digest[4:8], 16) % 1080 + 1,
        "phash": digest[:16],
    }


def extract_image_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """mapInPandas feature extraction over a binary payload column.

    Input must carry (doc_id: long, payload: binary); output follows
    IMAGE_FEATURES_SCHEMA. Arrow-batched — never row-at-a-time Python.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode_image_stub(p, deterministic_fake=True) for p in pdf[payload_col]
            ]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out.insert(1, "n_bytes", [len(p) for p in pdf[payload_col]])
            yield out[[f.name for f in IMAGE_FEATURES_SCHEMA.fields]]

    from ..session import ship_package

    # ``run`` closes over module-level symbols (decode_image_stub, the
    # schema) that executors import by reference — ship the package.
    ship_package(df.sparkSession)
    return df.mapInPandas(run, IMAGE_FEATURES_SCHEMA)


def documents_as_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The testdata has no binary column; synthesize one from text bytes.

    This stands in for reading real image bytes — the binary-typed column,
    not its content, is what the plumbing exercises.
    """
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.col("text").cast("binary").alias("payload"), "source"
    )


Q39_SQL = """
SELECT
  doc_id,
  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
  CAST(('0x' || substr(md5(text), 1, 4)) AS BIGINT) % 1920 + 1 AS fake_width,
  CAST(('0x' || substr(md5(text), 5, 4)) AS BIGINT) % 1080 + 1 AS fake_height,
  substr(md5(text), 1, 16) AS phash
FROM documents
"""


@register("q39_multimodal_meta", Q39_SQL)
def q39_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary column, all JVM-side.

    Mirrors what ``extract_image_features`` computes in Python — this
    SQL-expressible twin lets the oracle verify the metadata derivation
    (sizes, md5-derived fake dimensions, prefix phash) end to end.
    """
    blobs = documents_as_blobs(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    j = blobs.join(d, "doc_id")
    md5 = F.md5(F.col("text"))
    return j.select(
        "doc_id",
        F.octet_length(F.col("payload")).cast("long").alias("n_bytes"),
        (F.conv(F.substring(md5, 1, 4), 16, 10).cast("long") % 1920 + 1).alias(
            "fake_width"
        ),
        (F.conv(F.substring(md5, 5, 4), 16, 10).cast("long") % 1080 + 1).alias(
            "fake_height"
        ),
        F.substring(md5, 1, 16).alias("phash"),
    )


Q43_SQL = """
SELECT
  doc_id,
  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
  'fake' AS format,
  CAST(('0x' || substr(md5(text), 1, 4)) AS BIGINT) % 1920 + 1 AS width,
  CAST(('0x' || substr(md5(text), 5, 4)) AS BIGINT) % 1080 + 1 AS height,
  substr(md5(text), 1, 16) AS phash
FROM documents
"""


@register("q43_image_features", Q43_SQL)
def q43_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real mapInPandas pipeline over synthesized binary payloads.

    Upgraded rows-only → oracle (late round 3): on text-byte payloads
    every value the Arrow pipeline emits is md5-derived (the
    deterministic-fake contract), so the worker-side Python path is now
    hash-verified end to end against plain SQL — batch iteration, UDF
    plumbing and all. Real image bytes take the REAL decode branches,
    which the byte-fixture pytests pin.
    """
    return extract_image_features(
        documents_as_blobs(spark, sf_dir).select("doc_id", "payload")
    )


def resize_image_stub(
    payload: bytes, width: int, height: int, *, deterministic_fake: bool = False
) -> bytes:
    """Resize an image payload to (width, height) → PNG bytes.

    REAL for payloads ``decode_pixels`` understands (PNG 8-bit,
    BMP 24-bit, GIF, baseline JPEG): nearest-neighbor resample +
    stdlib-zlib PNG re-encode — no imaging library. Other formats get
    deterministic md5-seeded fake bytes under
    ``deterministic_fake=True`` (stable — exercises the binary-in /
    binary-out UDF plumbing), else raise.
    """
    px = decode_pixels(payload)
    if px is not None:
        return png_encode(resize_nearest(px, width, height))
    if not deterministic_fake:
        raise NotImplementedError(
            "pixel decode covers PNG/BMP; other formats need an imaging "
            "library — run with deterministic_fake=True for pipeline tests"
        )
    seed = hashlib.md5(payload + f"{width}x{height}".encode()).digest()
    size = max(1, (width * height) // 512)
    return (seed * (size // len(seed) + 1))[:size]


def sample_frames_stub(
    payload: bytes, n_frames: int, *, deterministic_fake: bool = False
) -> list[dict]:
    """Sample ``n_frames`` evenly from a video payload → per-frame records.

    REAL for Motion-JPEG AVI: the RIFF walk (``avi_video_frames``) yields
    one complete baseline JPEG per frame, and the pure-stdlib JPEG
    decoder turns each sampled frame into a REAL perceptual hash
    (``frame_idx`` is the source frame index). Other codecs inside AVI
    fall back to a per-frame content hash; non-AVI containers (e.g. MP4,
    whose streams are entropy-coded H.26x) still need a media library —
    they raise unless ``deterministic_fake=True``, which derives one
    digest per frame index so downstream dedup/embedding stages stay
    testable.
    """
    frames = avi_video_frames(payload)
    if frames:
        if n_frames >= len(frames):
            idxs = list(range(len(frames)))
        else:
            idxs = sorted({(i * len(frames)) // n_frames for i in range(n_frames)})
        out = []
        for fi in idxs:
            px = decode_pixels(frames[fi])
            out.append(
                {
                    "frame_idx": fi,
                    "phash": average_hash(px)
                    if px is not None
                    else hashlib.md5(frames[fi]).hexdigest()[:16],
                }
            )
        return out
    if not deterministic_fake:
        raise NotImplementedError(
            "video frame decoding is real only for Motion-JPEG AVI; other "
            "codecs require a media library — run with "
            "deterministic_fake=True for pipeline tests"
        )
    return [
        {
            "frame_idx": i,
            "phash": hashlib.md5(payload + bytes([i])).hexdigest()[:16],
        }
        for i in range(n_frames)
    ]


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("phash", StringType()),
    ]
)


def sample_video_frames(
    df: DataFrame, n_frames: int = 4, payload_col: str = "payload"
) -> DataFrame:
    """mapInPandas frame sampling: one input row (video) → n_frames rows.

    The row-expanding shape matters: frame extraction multiplies rows, and
    doing it inside mapInPandas keeps the expansion streaming through
    Arrow batches instead of materializing per-video frame lists in a
    single row.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                for fr in sample_frames_stub(
                    payload, n_frames, deterministic_fake=True
                ):
                    out.append(
                        {"doc_id": doc_id, "frame_idx": fr["frame_idx"], "phash": fr["phash"]}
                    )
            yield pd.DataFrame(out, columns=["doc_id", "frame_idx", "phash"])

    from ..session import ship_package

    ship_package(df.sparkSession)
    return df.mapInPandas(run, FRAME_SCHEMA)


# -- real audio/video container metadata (pure stdlib, header-level) --------

AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("format", StringType()),
        StructField("sample_rate", LongType()),
        StructField("channels", LongType()),
        StructField("bits_per_sample", LongType()),
        StructField("duration_ms", LongType()),
    ]
)


def parse_audio_meta(payload: bytes) -> dict | None:
    """REAL audio metadata: WAV (RIFF header decode — sample rate /
    channels / bit depth / duration from the fmt and data chunks), FLAC
    (STREAMINFO decode, ``flac.parse_flac_streaminfo``) and MP3
    (per-frame walk, ``parse_mp3_meta`` — exact duration, None bit
    depth). No audio library needed for container/frame metadata.
    Returns None for other formats."""
    n = len(payload)
    if n >= 4 and payload[:4] == b"fLaC":
        from .flac import parse_flac_streaminfo

        meta = parse_flac_streaminfo(payload)
        if meta is not None:
            meta["duration_ms"] = (
                meta["total_samples"] * 1000 // meta["sample_rate"]
                if meta["sample_rate"]
                else None
            )
        return meta
    if n < 36 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return parse_mp3_meta(payload) if n >= 4 else None
    i = 12
    fmt = None
    data_size = None
    while i + 8 <= n:
        chunk_id = payload[i : i + 4]
        chunk_size = int.from_bytes(payload[i + 4 : i + 8], "little")
        body = payload[i + 8 : i + 8 + chunk_size]
        if chunk_id == b"fmt " and len(body) >= 16:
            fmt = {
                "channels": int.from_bytes(body[2:4], "little"),
                "sample_rate": int.from_bytes(body[4:8], "little"),
                "byte_rate": int.from_bytes(body[8:12], "little"),
                "bits_per_sample": int.from_bytes(body[14:16], "little"),
            }
        elif chunk_id == b"data":
            data_size = chunk_size
        i += 8 + chunk_size + (chunk_size & 1)  # chunks are word-aligned
    if fmt is None:
        return None
    duration_ms = (
        data_size * 1000 // fmt["byte_rate"]
        if data_size is not None and fmt["byte_rate"]
        else None
    )
    return {
        "format": "wav",
        "sample_rate": fmt["sample_rate"],
        "channels": fmt["channels"],
        "bits_per_sample": fmt["bits_per_sample"],
        "duration_ms": duration_ms,
    }


#: MPEG audio Layer III tables (ISO/IEC 11172-3 / 13818-3): kbps by
#: bitrate index (0 = free-format, unsupported; 15 = invalid) and Hz by
#: samplerate index, per version.
_MP3_BITRATE = {
    1: [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    2: [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
_MP3_SAMPLERATE = {1: [44100, 48000, 32000], 2: [22050, 24000, 16000], 25: [11025, 12000, 8000]}


def _mp3_frame(payload: bytes, i: int) -> tuple[int, int, int, int] | None:
    """Parse one Layer III frame header at offset ``i`` →
    (frame_bytes, samples, sample_rate, channels), or None."""
    if i + 4 > len(payload):
        return None
    b0, b1, b2, b3 = payload[i : i + 4]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        return None
    ver_bits = (b1 >> 3) & 3  # 0=MPEG2.5 1=reserved 2=MPEG2 3=MPEG1
    layer_bits = (b1 >> 1) & 3  # 1=Layer III
    if ver_bits == 1 or layer_bits != 1:
        return None
    version = {0: 25, 2: 2, 3: 1}[ver_bits]
    br_idx = (b2 >> 4) & 15
    sr_idx = (b2 >> 2) & 3
    if br_idx in (0, 15) or sr_idx == 3:
        return None  # free-format / invalid: frame size unknowable
    bitrate = _MP3_BITRATE[1 if version == 1 else 2][br_idx] * 1000
    sample_rate = _MP3_SAMPLERATE[version][sr_idx]
    padding = (b2 >> 1) & 1
    samples = 1152 if version == 1 else 576
    frame_bytes = (samples // 8) * bitrate // sample_rate + padding
    channels = 1 if ((b3 >> 6) & 3) == 3 else 2
    if frame_bytes < 4:
        return None
    return frame_bytes, samples, sample_rate, channels


def parse_mp3_meta(payload: bytes) -> dict | None:
    """REAL MP3 (MPEG Layer III) metadata by walking EVERY frame header —
    exact frame-accurate duration, correct for VBR streams where the
    header-extrapolation shortcut (first frame × size) is wrong. Skips a
    leading ID3v2 tag (syncsafe size), stops at the first non-frame byte
    (trailing ID3v1 'TAG' etc.). Sample DECODE stays an honest stub —
    Huffman-coded subband samples need a real codec — so
    ``bits_per_sample`` is None; this narrows the E25b gate to the
    entropy-coded sample path only."""
    n = len(payload)
    i = 0
    if payload[:3] == b"ID3" and n >= 10:
        size = 0
        for b in payload[6:10]:  # syncsafe: 7 bits per byte
            if b & 0x80:
                return None
            size = (size << 7) | b
        i = 10 + size
        if payload[5] & 0x10:
            # ID3v2.4 footer flag: a 10-byte '3DI' footer follows the
            # tag body; without this skip the first-frame probe lands
            # on the footer and the whole stream parses as None.
            i += 10
    first = _mp3_frame(payload, i)
    if first is None:
        return None
    sample_rate, channels = first[2], first[3]
    n_frames = 0
    total_samples = 0
    while True:
        fr = _mp3_frame(payload, i)
        if fr is None or fr[2] != sample_rate:
            break  # end of stream / trailer; sr change = corrupt, stop
        n_frames += 1
        total_samples += fr[1]
        i += fr[0]
    return {
        "format": "mp3",
        "sample_rate": sample_rate,
        "channels": channels,
        "bits_per_sample": None,  # entropy-coded: no fixed PCM width
        "duration_ms": total_samples * 1000 // sample_rate,
    }


def _avi_chunks(payload: bytes):
    """Walk a RIFF/AVI chunk tree, yielding (fourcc, body) for leaf chunks
    (LIST containers are descended into). Pure stdlib."""
    stack = [(12, len(payload))]  # skip RIFF header + form type
    while stack:
        i, hi = stack.pop()
        while i + 8 <= hi:
            cc = payload[i : i + 4]
            size = int.from_bytes(payload[i + 4 : i + 8], "little")
            body_lo = i + 8
            body_hi = min(body_lo + size, hi)
            if cc == b"LIST":
                stack.append((i + 8 + size + (size & 1), hi))
                i, hi = body_lo + 4, body_hi  # skip list type fourcc
                continue
            yield cc, payload[body_lo:body_hi]
            i = body_lo + size + (size & 1)  # chunks are word-aligned


def parse_avi_meta(payload: bytes) -> dict | None:
    """REAL AVI (RIFF) header decode: the avih main header carries
    frame period, frame count, and dimensions. Returns None for non-AVI."""
    if len(payload) < 24 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return None
    for cc, body in _avi_chunks(payload):
        if cc == b"avih" and len(body) >= 40:
            usec_per_frame = int.from_bytes(body[0:4], "little")
            total_frames = int.from_bytes(body[16:20], "little")
            return {
                "format": "avi",
                "width": int.from_bytes(body[32:36], "little"),
                "height": int.from_bytes(body[36:40], "little"),
                "n_frames": total_frames,
                "duration_ms": usec_per_frame * total_frames // 1000,
            }
    return None


def avi_video_frames(payload: bytes) -> list[bytes]:
    """Extract compressed video frame payloads ('##dc'/'##db' chunks in
    the movi list) from an AVI container. For Motion-JPEG AVIs each
    returned payload is a complete baseline JPEG that ``decode_pixels``
    can decode — making video frame features REAL for MJPEG."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return []
    return [
        body
        for cc, body in _avi_chunks(payload)
        if len(cc) == 4
        and cc[:2].isdigit()
        and cc[2:4] in (b"dc", b"db")
        and body
    ]


def parse_video_meta(payload: bytes) -> dict | None:
    """REAL video container metadata: MP4/ISO-BMFF (box-tree walk to
    moov/mvhd → timescale + duration) and AVI (avih main header →
    dimensions, frame count, duration). Returns None otherwise."""
    avi = parse_avi_meta(payload)
    if avi is not None:
        return avi
    n = len(payload)
    if n < 12 or payload[4:8] != b"ftyp":
        return None

    def walk(lo: int, hi: int):
        i = lo
        while i + 8 <= hi:
            size = int.from_bytes(payload[i : i + 4], "big")
            box = payload[i + 4 : i + 8]
            if size == 1:  # 64-bit largesize
                size = int.from_bytes(payload[i + 8 : i + 16], "big")
                body_off = i + 16
            else:
                body_off = i + 8
            if size < 8:
                return None
            if box == b"moov":
                r = walk(body_off, min(i + size, hi))
                if r is not None:
                    return r
            elif box == b"mvhd":
                version = payload[body_off]
                if version == 1:
                    ts = int.from_bytes(payload[body_off + 20 : body_off + 24], "big")
                    dur = int.from_bytes(payload[body_off + 24 : body_off + 32], "big")
                else:
                    ts = int.from_bytes(payload[body_off + 12 : body_off + 16], "big")
                    dur = int.from_bytes(payload[body_off + 16 : body_off + 20], "big")
                return {"timescale": ts, "duration": dur}
            i += size
        return None

    mvhd = walk(0, n)
    if mvhd is None or not mvhd["timescale"]:
        return None
    return {
        "format": "mp4",
        "duration_ms": mvhd["duration"] * 1000 // mvhd["timescale"],
    }


def extract_audio_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """mapInPandas audio-metadata extraction over a binary payload column.

    WAV metadata is real (parse_audio_meta); unknown formats get
    deterministic md5-seeded fakes, mirroring the image pipeline's
    contract so synthetic payloads still flow end to end.
    """

    def decode(p: bytes) -> dict:
        meta = parse_audio_meta(p)
        if meta is not None:
            return meta
        digest = hashlib.md5(p).hexdigest()
        return {
            "format": "fake",
            "sample_rate": 8000 + int(digest[:4], 16) % 40000,
            "channels": 1 + int(digest[4:6], 16) % 2,
            "bits_per_sample": 16,
            "duration_ms": int(digest[6:10], 16) % 60000,
        }

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode(p) for p in pdf[payload_col]]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out.insert(1, "n_bytes", [len(p) for p in pdf[payload_col]])
            yield out[[f.name for f in AUDIO_FEATURES_SCHEMA.fields]]

    from ..session import ship_package

    ship_package(df.sparkSession)
    return df.mapInPandas(run, AUDIO_FEATURES_SCHEMA)


# -- real audio PCM decode + windowed signal features (round 5) -------------
#
# Upgrades audio from header metadata (parse_audio_meta) to REAL sample
# processing: 16-bit PCM WAV payloads decode to waveforms (pure
# numpy/stdlib — the container format is simple enough that no audio
# library is needed), subset FLAC decodes losslessly through the same
# dispatcher (llm/flac.py: constant/verbatim/fixed/LPC subframes with
# Rice residuals — rounds 8-9, shrinking the E25b partial), and
# per-window RMS energy / zero-crossing rate / peak are the classic
# speech-vs-music/silence-trim features a training pipeline computes
# before filtering audio corpora. MP3 gets REAL frame-accurate METADATA
# (parse_mp3_meta walks every frame header); its Huffman-coded SAMPLES —
# and AAC — remain honest gates, see the codec policy at
# decode_image_stub.

AUDIO_WINDOW = 1024  # samples per analysis window

AUDIO_WINDOW_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("win", LongType()),
        StructField("n_samples", LongType()),
        StructField("rms", DoubleType()),
        StructField("zcr", LongType()),
        StructField("peak", DoubleType()),
    ]
)


def decode_wav_pcm(payload: bytes) -> "np.ndarray | None":
    """Decode a 16-bit PCM WAV payload to a mono float64 waveform
    (channels mixed by mean). Returns None for non-WAV / non-16-bit
    payloads — the honest-negative contract, not a guess."""
    meta = parse_audio_meta(payload)
    if meta is None or meta["bits_per_sample"] != 16:
        return None
    n = len(payload)
    i = 12
    body = None
    while i + 8 <= n:
        chunk_id = payload[i : i + 4]
        chunk_size = int.from_bytes(payload[i + 4 : i + 8], "little")
        if chunk_id == b"data":
            body = payload[i + 8 : i + 8 + chunk_size]
            break
        i += 8 + chunk_size + (chunk_size & 1)
    if body is None:
        return None
    samples = np.frombuffer(
        body[: len(body) - (len(body) % 2)], dtype="<i2"
    ).astype(np.float64)
    ch = max(int(meta["channels"]), 1)
    if ch > 1:
        samples = samples[: len(samples) - (len(samples) % ch)]
        samples = samples.reshape(-1, ch).mean(axis=1)
    return samples


def decode_audio_pcm(payload: bytes) -> "np.ndarray | None":
    """Container-dispatching PCM decode: 16-bit WAV (``decode_wav_pcm``)
    or subset FLAC (``flac.flac_decode_pcm16`` — constant/verbatim/fixed
    AND LPC subframes, orders 1–32 per RFC 9639 §9.2.6; lossless, so a
    FLAC and a WAV of the same waveform yield IDENTICAL samples, pinned
    in tests). None for anything else — the honest-negative contract;
    entropy-model codecs (MP3/AAC samples) stay gated per the
    decode_image_stub policy."""
    if payload[:4] == b"fLaC":
        from .flac import flac_decode_pcm16

        return flac_decode_pcm16(payload)
    return decode_wav_pcm(payload)


def audio_window_features(doc_id: int, wave: "np.ndarray") -> list[tuple]:
    """Per-window (RMS, zero-crossing count, peak) rows for one decoded
    waveform; the tail window keeps its true (shorter) sample count."""
    rows = []
    for w in range(0, len(wave), AUDIO_WINDOW):
        seg = wave[w : w + AUDIO_WINDOW]
        if len(seg) == 0:
            continue
        rms = float(np.sqrt(np.mean(seg * seg)))
        # sign-boolean ZCR (zeros count as positive): the product<0 form
        # silently drops crossings that land exactly on a zero sample —
        # which periodic tones at rational frequency ratios hit often.
        pos = seg >= 0
        zcr = int(np.count_nonzero(pos[:-1] != pos[1:]))
        rows.append(
            (
                doc_id,
                w // AUDIO_WINDOW,
                len(seg),
                rms,
                zcr,
                float(np.max(np.abs(seg))) if len(seg) else 0.0,
            )
        )
    return rows


def extract_audio_windows(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """(doc_id, payload) → per-window audio features via one Arrow-batched
    ``mapInPandas`` pass — map-only, no shuffle; non-decodable payloads
    contribute zero rows (filter-by-decode, the corpus-cleaning shape).
    """
    from ..session import ship_package

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in AUDIO_WINDOW_SCHEMA.fields]
        for pdf in batches:
            rows: list[tuple] = []
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                wave = decode_audio_pcm(bytes(payload))
                if wave is None:
                    continue
                rows.extend(audio_window_features(int(doc_id), wave))
            yield pd.DataFrame(rows, columns=cols)

    ship_package(df.sparkSession)
    return df.select("doc_id", payload_col).mapInPandas(
        run, AUDIO_WINDOW_SCHEMA
    )


def wav_encode_pcm16(samples: "np.ndarray", sample_rate: int = 8000) -> bytes:
    """Minimal 16-bit mono PCM WAV writer (fixtures + the q155 synth)."""
    pcm = np.clip(np.asarray(samples), -32768, 32767).astype("<i2").tobytes()
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(pcm))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(pcm))
    )
    return hdr + pcm


def _register_q155() -> None:
    @register("q155_audio_windows")  # rows-only: float DSP is numpy-side
    def q155_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
        """End-to-end audio pipeline over the driver tables: synthesize a
        deterministic PCM tone per document (frequency/amplitude seeded
        by doc_id — the deterministic-fake contract q39/q43 use, since
        testdata has no audio column), then run the REAL decode +
        windowed-feature path and aggregate per doc. Rows-only (windowed
        RMS is numpy-side floating point); the decode/feature math is
        pinned by closed-form sine fixtures in tests/test_llm.py."""
        from ..session import ship_package

        d = load_table(spark, sf_dir, "documents").select("doc_id").limit(64)

        synth_schema = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("payload", BinaryType()),
            ]
        )

        def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for doc_id in pdf["doc_id"]:
                    seed = int(
                        hashlib.md5(str(int(doc_id)).encode()).hexdigest()[:8],
                        16,
                    )
                    freq = 200 + seed % 800
                    amp = 4000 + seed % 8000
                    t = np.arange(3 * AUDIO_WINDOW, dtype=np.float64)
                    wave = amp * np.sin(2 * np.pi * freq * t / 8000.0)
                    rows.append((int(doc_id), wav_encode_pcm16(wave)))
                yield pd.DataFrame(rows, columns=["doc_id", "payload"])

        ship_package(spark)
        blobs = d.mapInPandas(synth, synth_schema)
        feats = extract_audio_windows(blobs)
        return (
            feats.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_windows"),
                F.sum("n_samples").cast("bigint").alias("n_samples"),
                F.max("peak").alias("peak"),
                F.sum("zcr").cast("bigint").alias("zcr_total"),
            )
            .orderBy("doc_id")
        )


def _register_q155b() -> None:
    @register("q155b_audio_windows_mixed")  # rows-only: numpy-side DSP
    def q155b_audio_windows_mixed(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """q155 over a MIXED-FORMAT corpus: the same deterministic tone
        per document, but even doc_ids encode as 16-bit WAV, doc_id%4==1
        as fixed-predictor FLAC, and doc_id%4==3 as quantized-LPC FLAC
        (llm/flac.py), all decoded through the one ``decode_audio_pcm``
        dispatcher. FLAC is lossless either way, so codec choice is
        hash-invisible to the features: this face's per-doc aggregates
        must equal q155's exactly for the shared docs (tests pin
        window-level identity, plus the byte-fixture round-trips)."""
        from ..session import ship_package

        d = load_table(spark, sf_dir, "documents").select("doc_id").limit(64)

        synth_schema = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("payload", BinaryType()),
            ]
        )

        def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from .flac import flac_encode_pcm16

            for pdf in batches:
                rows = []
                for doc_id in pdf["doc_id"]:
                    seed = int(
                        hashlib.md5(str(int(doc_id)).encode()).hexdigest()[:8],
                        16,
                    )
                    freq = 200 + seed % 800
                    amp = 4000 + seed % 8000
                    t = np.arange(3 * AUDIO_WINDOW, dtype=np.float64)
                    wave = amp * np.sin(2 * np.pi * freq * t / 8000.0)
                    if int(doc_id) % 2 == 0:
                        payload = wav_encode_pcm16(wave)
                    elif int(doc_id) % 4 == 1:
                        payload = flac_encode_pcm16(wave, 8000, AUDIO_WINDOW)
                    else:  # doc_id % 4 == 3: the LPC-coded flavor
                        payload = flac_encode_pcm16(
                            wave, 8000, AUDIO_WINDOW, force_subframe="lpc"
                        )
                    rows.append((int(doc_id), payload))
                yield pd.DataFrame(rows, columns=["doc_id", "payload"])

        ship_package(spark)
        blobs = d.mapInPandas(synth, synth_schema)
        feats = extract_audio_windows(blobs)
        return (
            feats.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_windows"),
                F.sum("n_samples").cast("bigint").alias("n_samples"),
                F.max("peak").alias("peak"),
                F.sum("zcr").cast("bigint").alias("zcr_total"),
            )
            .orderBy("doc_id")
        )


_register_q155()
_register_q155b()


# ---------------------------------------------------------------------------
# q162 — image near-duplicate detection over REAL decoded pixels.
# The dedup family (q36/q38/q80/...) extended to the image modality:
# a 60-bit difference hash (dHash) computed from actually-decoded PNG
# pixels, then the same pigeonhole chunk-banding + exact Hamming verify
# the SimHash text path uses (dedup.py::hamming_banded_pairs).
# ---------------------------------------------------------------------------

#: dHash grid: 8 rows x 9 columns of sampled gray values -> 64 horizontal
#: comparisons, masked to the low 60 bits so Spark's ARITHMETIC shiftright
#: (sign-extending) can band the value exactly like the 60-bit SimHash.
DHASH_ROWS, DHASH_COLS = 8, 9
DHASH_BITS = 60
#: Verified-pair threshold. Within a synthesized dup group each variant is
#: <=2 bits from its base (one grid cell xor-128 flips at most the cell's
#: own comparison and its left neighbor), so intra-group pairs are <=4.
DHASH_HAMMING_MAX = 4
#: Synthetic dup-group size: doc_id DIV 8 -> groups of <=8, keeping the
#: pair count LINEAR in corpus size at every SF (a corpus-sized base count
#: would make the fixture density quadratic — the q128 guard discipline).
DHASH_GROUP = 8


def dhash60(img: np.ndarray) -> int:
    """60-bit difference hash of decoded pixels: grayscale mean, 8x9
    nearest-neighbor downsample (integer index math — deterministic),
    bit k set iff gray[y,x] < gray[y,x+1], folded row-major and masked
    to DHASH_BITS. Stable under bit-exact re-encode by construction."""
    g = img.mean(axis=2) if img.ndim == 3 else img.astype(np.float64)
    small = resize_nearest(g, DHASH_COLS, DHASH_ROWS)
    v = 0
    for y in range(DHASH_ROWS):
        for x in range(DHASH_COLS - 1):
            v = (v << 1) | int(small[y, x] < small[y, x + 1])
    return v & ((1 << DHASH_BITS) - 1)


def _cell_levels(base_id: int) -> np.ndarray:
    """The dup group's 8x9 level grid (values 0..3, horizontally-adjacent
    cells distinct) — the RandomState call sequence is exactly what
    ``_synth_image`` inlined before round 11, so every q162 fixture stays
    byte-identical."""
    # RandomState seeds cap at 2^32-1; replica corpora offset doc_ids by
    # 10^9 per copy (measured crash at the sf10 100x factor, round 10).
    rs = np.random.RandomState(base_id % (1 << 32))
    levels = np.empty((DHASH_ROWS, DHASH_COLS), dtype=np.int64)
    levels[:, 0] = rs.randint(0, 4, DHASH_ROWS)
    for x in range(1, DHASH_COLS):
        # adjacent-distinct: step 1..3 mod 4 from the left neighbor
        levels[:, x] = (levels[:, x - 1] + 1 + rs.randint(0, 3, DHASH_ROWS)) % 4
    return levels


def _synth_image(doc_id: int) -> bytes:
    """Deterministic 16x16 grayscale image for a doc — PNG for even
    doc_ids, REAL baseline JPEG (llm/jpeg.py's encoder) for odd ones, so
    every dup group mixes the formats users actually mix and the banded
    join exercises BOTH decoders. The base texture is seeded by the
    doc's dup GROUP (group-mates are near-duplicates across formats),
    and md5(doc_id) decides whether one sampled grid pixel is xor-128
    perturbed — a real pixel-level edit the perceptual hash must absorb
    (and the md5 content hash, by design, cannot).

    Cross-format stability is by MARGIN, not luck: cell gray levels come
    from {16, 80, 144, 208} with horizontally-adjacent cells forced to
    distinct levels, so every unperturbed dHash comparison carries >=64
    levels of margin while JPEG round-trip error is <=1 (all-ones quant
    tables; measured in tests/test_image_dedup.py). xor-128 keeps a
    perturbed pixel inside the same level set, so each variant still
    differs from its group's ideal hash in at most the 2 comparisons
    touching the perturbed cell — intra-group pairs stay <=4 bits in
    ANY format combination."""
    base_id = doc_id // DHASH_GROUP
    gray = (16 + 64 * _cell_levels(base_id)).astype(np.uint8)
    # paint each pixel with its nearest SAMPLED cell's level: pixel x
    # belongs to the last grid column whose sample index <= x, so the
    # dHash sampling grid reads the intended level exactly.
    ys = (np.arange(DHASH_ROWS) * 16) // DHASH_ROWS
    xs = (np.arange(DHASH_COLS) * 16) // DHASH_COLS
    row_of = np.searchsorted(ys, np.arange(16), side="right") - 1
    col_of = np.searchsorted(xs, np.arange(16), side="right") - 1
    px = gray[row_of][:, col_of].copy()
    seed = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
    if seed % 2:
        cell = (seed >> 4) % (DHASH_ROWS * DHASH_COLS)
        gy, gx = cell // DHASH_COLS, cell % DHASH_COLS
        px[ys[gy], xs[gx]] ^= 128
    if doc_id % 2:
        from .jpeg import jpeg_encode_gray

        return jpeg_encode_gray(px)
    return png_encode(px)


def _synth_image_big(doc_id: int) -> bytes:
    """q162b's fixture: the SAME dup-group texture as ``_synth_image``,
    rendered at 64x72 so every dHash grid cell is exactly one 8x8 block —
    the smallest size at which a 1/8-scale (DC) thumbnail carries the full
    8x9 comparison grid, i.e. the regime every real-world image is in
    (q162's 16x16 payloads are the pathological tiny case and keep the
    exact-pixel face). Odd doc_ids are REAL baseline JPEG via the
    closed-form constant-cell encoder, even are PNG. The per-doc edit
    flips a whole CELL xor-128 (stays inside the level set, so margins
    hold): the variant's thumbnail differs from its base in at most the 2
    comparisons touching the cell — intra-group pairs stay <=4 bits in
    any format combination, and the full-pixel and thumbnail paths hash
    the same values (constant cells: sampled pixel == block mean).

    16 gray levels (vs q162's 4): constant cells survive BOTH codecs
    exactly, so the margin only needs to clear rounding (≤1), and the
    finer palette raises dHash entropy — with 4 levels the banded join's
    key buckets skewed ~6x over uniform on the 100x replica (correlated
    comparison bits), a real image-corpus effect (flat regions, shared
    borders) the production face should carry at realistic density, not
    pathologically amplified. Levels are 8 + 16k, so xor-128 (±128) maps
    the set onto itself and margins between distinct levels stay ≥16."""
    base_id = doc_id // DHASH_GROUP
    # RandomState sequence mirrors _cell_levels but over 16 levels.
    rs = np.random.RandomState(base_id % (1 << 32))
    levels = np.empty((DHASH_ROWS, DHASH_COLS), dtype=np.int64)
    levels[:, 0] = rs.randint(0, 16, DHASH_ROWS)
    for x in range(1, DHASH_COLS):
        levels[:, x] = (levels[:, x - 1] + 1 + rs.randint(0, 15, DHASH_ROWS)) % 16
    cells = (8 + 16 * levels).astype(np.uint8)
    seed = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
    if seed % 2:
        cell = (seed >> 4) % (DHASH_ROWS * DHASH_COLS)
        cells[cell // DHASH_COLS, cell % DHASH_COLS] ^= 128
    if doc_id % 2:
        from .jpeg import jpeg_encode_cells

        return jpeg_encode_cells(cells)
    return png_encode(np.repeat(np.repeat(cells, 8, axis=0), 8, axis=1))


_DHASH_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("dhash", LongType())]
)


def _hash_blobs(blobs: DataFrame, decode) -> DataFrame:
    """(doc_id, payload) → (doc_id, dhash) via ``decode`` (full pixels or
    DC thumbnail — dhash60 accepts both), Arrow-batched and map-only;
    non-decodable payloads drop out worker-side."""
    from ..session import ship_package

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = decode(bytes(payload))
                if img is not None:
                    rows.append((int(doc_id), dhash60(img)))
            yield pd.DataFrame(rows, columns=["doc_id", "dhash"])

    ship_package(blobs.sparkSession)
    return blobs.mapInPandas(hash_batches, _DHASH_SCHEMA)


def image_near_dup_pairs(
    blobs: DataFrame, hamming_max: int = DHASH_HAMMING_MAX
) -> DataFrame:
    """Verified near-duplicate image pairs from (doc_id, payload) blobs:
    REAL pixel decode -> dHash (Arrow-batched, map-only) -> pigeonhole
    chunk banding -> exact Hamming filter.

    Pigeonhole recall is 1.0 by construction: two hashes within
    ``hamming_max`` bits agree on at least one of hamming_max+1 chunks.
    Scale shape is identical to the text SimHash path: the candidate
    join keys on (chunk_id, chunk_value) with FIXED key cardinality
    2^(60/(hamming_max+1)) — subquadratic at any realistic corpus, no
    all-pairs anywhere; non-decodable payloads drop out map-side.
    """
    return _dhash_banded_pairs(_hash_blobs(blobs, decode_pixels), hamming_max)


def image_near_dup_pairs_fast(
    blobs: DataFrame, hamming_max: int = DHASH_HAMMING_MAX
) -> DataFrame:
    """The production decode path (q162b): identical banding + verify, but
    the dHash input is the 1/8-scale thumbnail — JPEG payloads never run
    the IDCT (``decode_jpeg_dc``: DC walk + AC length-skip, ~10x measured
    on 64x72 fixtures), other formats decode once and block-mean in
    numpy. For images whose 8x8-block grid is at least the 8x9 dHash
    grid (H≥64, W≥72 — any real-world corpus), the thumbnail carries the
    same comparisons the full-pixel path samples; pair-set parity with
    ``image_near_dup_pairs`` is pytest-pinned on the planted mixed-format
    groups (tests/test_image_dedup.py)."""
    return _dhash_banded_pairs(
        _hash_blobs(blobs, decode_image_thumb), hamming_max
    )


def _dhash_banded_pairs(hashes: DataFrame, hamming_max: int) -> DataFrame:
    """``dedup.hamming_banded_pairs`` over a (doc_id, dhash) relation —
    shared by the exact and thumbnail paths.

    The chunk self-join would otherwise recompute the hash stage — the
    Python image decode, the expensive part — once PER BRANCH (Spark
    never reuses self-join subtrees, the r10 q107b lesson), so the
    narrow (doc_id, dhash) relation (16 B/row) is localCheckpointed
    ONCE and both branches derive from it: measured at sf0.1 — q162
    16.6 s → 8.3 s, q162b 8.9 s → 5.2 s. Two-chunk combination keys
    (vs single-chunk) took the 500k-image 100x replica from 1.78
    BILLION raw candidates (47 s to enumerate) off the critical path."""
    from .dedup import hamming_banded_pairs

    # eager=False (ADVICE r11): the checkpoint still materializes exactly
    # once at the FIRST action and is shared by both self-join branches,
    # but plan-only consumers (gen_plans.py explain capture) no longer pay
    # the full corpus decode just to build the DataFrame.
    hashes = hashes.localCheckpoint(eager=False)
    chunk_width = DHASH_BITS // (hamming_max + 2)
    if chunk_width < 8:
        raise ValueError(
            f"hamming_max={hamming_max} needs chunks of {chunk_width} bits; "
            "per-chunk cardinality below 2^8 makes the candidate join "
            "effectively O(n^2) (see simhash_near_dup_pairs)."
        )
    return hamming_banded_pairs(hashes, "dhash", hamming_max)


def _synth_blobs(spark: SparkSession, sf_dir: str, synth_fn) -> DataFrame:
    """documents doc_ids → (doc_id, payload) blobs via a deterministic
    per-doc image synthesizer (map-only, Arrow-batched)."""
    from ..session import ship_package

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    synth_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (int(doc_id), synth_fn(int(doc_id))) for doc_id in pdf["doc_id"]
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    ship_package(spark)
    return d.mapInPandas(synth, synth_schema)


def _register_q162() -> None:
    @register("q162_image_neardup")  # rows-only: pixel decode is not SQL
    def q162_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Image near-dup pairs over the documents table: deterministic
        PNG payloads (dup groups of DHASH_GROUP consecutive doc_ids,
        per-doc pixel perturbations), REAL decode, dHash, banded Hamming
        join. Rows-only (decode is Python-side); recall/precision vs the
        known group structure is pytest-pinned — every intra-group pair
        is <=4 bits by construction and MUST be found."""
        blobs = _synth_blobs(spark, sf_dir, _synth_image)
        return image_near_dup_pairs(blobs).orderBy("doc_id_a", "doc_id_b")

    @register("q162b_image_neardup_fast")  # rows-only: pixel decode is not SQL
    def q162b_image_neardup_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
        """q162's production face (round 11, VERDICT r10 item 1 — the
        q41/q41b pairing applied to the image modality): the same dup
        groups rendered at real-image scale (64x72, `_synth_image_big`)
        and hashed from the 1/8-SCALE THUMBNAIL — JPEG payloads decode DC
        coefficients only (AC length-skipped, no IDCT:
        jpeg.py::decode_jpeg_dc), PNG payloads block-mean in numpy — then
        the identical banded Hamming join. Pair-set parity with the
        full-pixel path over the same blobs is pytest-pinned; q162 stays
        the exact-pixel reference face. Rows-only (decode is
        Python-side)."""
        blobs = _synth_blobs(spark, sf_dir, _synth_image_big)
        return image_near_dup_pairs_fast(blobs).orderBy("doc_id_a", "doc_id_b")


_register_q162()
