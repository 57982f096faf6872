"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns + typed metadata, processed with Arrow-batched ``mapInPandas``.

Two decode tiers:

- **Header metadata decode is REAL**: :func:`parse_image_dims` reads
  width/height/format straight from PNG / JPEG / GIF header bytes with
  stdlib ``struct`` parsing only (no imaging libraries), and
  :func:`decode_image_meta` runs it over Arrow batches. Synthetic but
  fully-valid payloads come from :func:`synth_png` /
  :func:`synth_jpeg` / :func:`synth_gif` (PNG includes a correct
  zlib-compressed IDAT and CRCs), so the path is tested end-to-end:
  synthesize with planted dims → parse the bytes → recover the dims.
- **PNG pixel decode is REAL too** (:func:`decode_png_pixels`): stdlib
  zlib inflate + the five PNG scanline filters un-applied per row — no
  imaging libraries. It feeds :func:`pixel_stats` and the
  :func:`ahash64` perceptual fingerprint, both verifiable end-to-end
  against planted gradient pixels (:func:`synth_png_gradient`).
- **Baseline JPEG and GIF pixel decode are REAL as of round 5**
  (`operators/jpeg.py:decode_jpeg_pixels` — Huffman entropy decode,
  dequantize, matrix IDCT, chroma upsample, YCbCr→RGB, restart
  markers; `operators/gif.py:decode_gif_pixels` — variable-code-size
  LZW, palettes, interlacing; both pure stdlib + numpy), each with a
  matching fixture encoder and a planted-gradient oracle query
  (`multimodal_jpeg_pixel_stats` / `multimodal_gif_pixel_stats`).
  No image-format stub remains; production deployments still plug
  Pillow/libvips into the same `decode_image` seam for codec breadth
  (progressive JPEG, APNG, animation) and speed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# A multimodal asset row: opaque payload + typed metadata. Binary stays
# opaque to Catalyst; metadata columns get pushdown/pruning as usual.
ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("modality", T.StringType()),  # image | audio | video
        T.StructField("mime_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("payload_digest", T.StringType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def decode_pixels(payload: bytes | None) -> "object":
    """Dispatch a payload to the real pure-stdlib pixel decoders: PNG
    (:func:`decode_png_pixels`), baseline JPEG
    (`operators/jpeg.py:decode_jpeg_pixels`) or GIF
    (`operators/gif.py:decode_gif_pixels`). ``None`` when none
    recognizes/supports the payload."""
    px = decode_png_pixels(payload)
    if px is not None:
        return px
    from tfl_realtime_lakehouse_spark.operators.jpeg import decode_jpeg_pixels

    px = decode_jpeg_pixels(payload)
    if px is not None:
        return px
    from tfl_realtime_lakehouse_spark.operators.gif import decode_gif_pixels

    return decode_gif_pixels(payload)


def decode_image(payload: bytes) -> "object":
    """Decode an image payload into a pixel array.

    All three container formats this engine synthesizes decode FOR
    REAL, pure stdlib + numpy — PNG (zlib inflate + scanline
    un-filtering), baseline JPEG (Huffman entropy decode + dequantize
    + IDCT + YCbCr, `operators/jpeg.py`), GIF (variable-code-size LZW
    + palette map, `operators/gif.py`) — no imaging libraries. Raises
    for payloads none of the decoders support (truncated/corrupt or
    foreign formats); production deployments plug Pillow/libvips into
    this same seam for codec breadth and speed. Header METADATA decode
    never needs pixels — see :func:`parse_image_dims` /
    :func:`decode_image_meta`.
    """
    px = decode_pixels(payload)
    if px is not None:
        return px
    raise NotImplementedError(
        "payload is not a decodable PNG / baseline JPEG / GIF "
        "(corrupt, truncated, or an unsupported variant)"
    )


def decode_png_pixels(payload: bytes | None) -> "object":
    """REAL PNG pixel decode with no imaging libraries: stdlib zlib
    inflate of the IDAT stream plus the five PNG scanline filters
    (None/Sub/Up/Average/Paeth, RFC 2083 §6) un-applied per row.

    Supports non-interlaced 8-bit grayscale (color type 0) and RGB (2)
    — the formats this engine synthesizes and the common ML-corpus
    baseline. Returns a uint8 numpy array of shape (h, w) or (h, w, 3);
    ``None`` for non-PNG, unsupported variants, or corrupt payloads
    (truncated chunks, bad zlib, wrong stream length, unknown filter) —
    at 100 TB a corrupt asset must not kill the stage."""
    import struct
    import zlib

    import numpy as np

    b = payload or b""
    if len(b) < 8 or b[:8] != _PNG_SIG:
        return None
    try:
        pos, ihdr, idat = 8, None, bytearray()
        while pos + 8 <= len(b):
            (ln,) = struct.unpack(">I", b[pos : pos + 4])
            typ = b[pos + 4 : pos + 8]
            data = b[pos + 8 : pos + 8 + ln]
            if len(data) < ln:
                return None
            if typ == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", data[:13])
            elif typ == b"IDAT":
                idat += data
            elif typ == b"IEND":
                break
            pos += 12 + ln  # len + type + data + crc
        if ihdr is None:
            return None
        w, h, depth, ctype, comp, filt, interlace = ihdr
        if depth != 8 or ctype not in (0, 2) or comp or filt or interlace:
            return None
        if w == 0 or h == 0:
            return None
        bpp = 1 if ctype == 0 else 3
        stride = w * bpp
        raw = zlib.decompress(bytes(idat))
        if len(raw) != h * (1 + stride):
            return None
        out = np.empty((h, stride), dtype=np.uint8)
        prev = bytearray(stride)
        o = 0
        for y in range(h):
            f = raw[o]
            cur = bytearray(raw[o + 1 : o + 1 + stride])
            o += 1 + stride
            if f == 0:
                pass
            elif f == 1:  # Sub: left neighbour (same channel)
                for x in range(bpp, stride):
                    cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
            elif f == 2:  # Up
                for x in range(stride):
                    cur[x] = (cur[x] + prev[x]) & 0xFF
            elif f == 3:  # Average of left and up (floor)
                for x in range(stride):
                    left = cur[x - bpp] if x >= bpp else 0
                    cur[x] = (cur[x] + ((left + prev[x]) >> 1)) & 0xFF
            elif f == 4:  # Paeth predictor
                for x in range(stride):
                    a = cur[x - bpp] if x >= bpp else 0
                    c_ = prev[x]
                    d = prev[x - bpp] if x >= bpp else 0
                    p = a + c_ - d
                    pa, pb, pc = abs(p - a), abs(p - c_), abs(p - d)
                    if pa <= pb and pa <= pc:
                        pred = a
                    elif pb <= pc:
                        pred = c_
                    else:
                        pred = d
                    cur[x] = (cur[x] + pred) & 0xFF
            else:
                return None
            out[y] = np.frombuffer(bytes(cur), dtype=np.uint8)
            prev = cur
        return out if ctype == 0 else out.reshape(h, w, 3)
    except (struct.error, zlib.error):  # an IHDR under 13 bytes; a bad deflate stream
        return None


# ---------------------------------------------------------------------------
# Real header parsing (pure stdlib struct — no imaging libraries)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# JPEG frame-header (SOFn) markers carry dimensions; C4/C8/CC are
# huffman/arithmetic tables, not frames.
_JPEG_NON_FRAME = {0xC4, 0xC8, 0xCC}


def _png_dims(b: bytes) -> tuple[int, int] | None:
    import struct

    if len(b) >= 24 and b[:8] == _PNG_SIG and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return w, h
    return None


def _gif_dims(b: bytes) -> tuple[int, int] | None:
    import struct

    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", b[6:10])  # logical screen descriptor
        return w, h
    return None


def _jpeg_dims(b: bytes) -> tuple[int, int] | None:
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    i = 2
    n = len(b)
    while i + 4 <= n:
        if b[i] != 0xFF:
            return None  # lost marker sync — corrupt stream
        marker = b[i + 1]
        if marker == 0xD8 or marker == 0x01 or 0xD0 <= marker <= 0xD9:
            i += 2  # standalone markers carry no length
            continue
        seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
        if 0xC0 <= marker <= 0xCF and marker not in _JPEG_NON_FRAME:
            if i + 9 > n:
                return None
            h = int.from_bytes(b[i + 5 : i + 7], "big")
            w = int.from_bytes(b[i + 7 : i + 9], "big")
            return w, h
        i += 2 + seg_len
    return None


def parse_image_dims(payload: bytes | None) -> tuple[str | None, int | None, int | None]:
    """(format, width, height) from header bytes; (None,)*3 if unknown.

    Formats: PNG (IHDR, big-endian), GIF 87a/89a (logical screen
    descriptor, little-endian), JPEG (marker walk to the first SOFn
    frame header). Truncated or foreign payloads yield nulls, never
    exceptions — at 100 TB a corrupt asset must not kill the stage.
    """
    b = payload or b""
    # The parsers check every length before they read, so none raises.
    for fmt, parse in (("png", _png_dims), ("gif", _gif_dims), ("jpeg", _jpeg_dims)):
        dims = parse(b)
        if dims:
            return fmt, dims[0], dims[1]
    return None, None, None


# ---------------------------------------------------------------------------
# Valid synthetic payloads (deterministic; PNG carries real zlib + CRCs)


def synth_png(width: int, height: int, color: int = 128) -> bytes:
    """A fully-valid grayscale PNG of the given dimensions."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes([color]) * width for _ in range(height))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def synth_jpeg(width: int, height: int) -> bytes:
    """Minimal JPEG: SOI + APP0(JFIF) + SOF0 frame header + EOI."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00\x01\x00\x01\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, height, width, 1) + b"\x01\x11\x00"
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def synth_gif(width: int, height: int) -> bytes:
    """Minimal GIF89a: header + logical screen descriptor + trailer."""
    import struct

    return b"GIF89a" + struct.pack("<HH", width, height) + b"\x00\x00\x00" + b"\x3b"


META_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("img_format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def decode_image_meta(assets: DataFrame) -> DataFrame:
    """Arrow-batched REAL metadata decode: header-parse every payload
    into (format, width, height). Corrupt/unknown payloads yield nulls."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            parsed = [parse_image_dims(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "img_format": [p[0] for p in parsed],
                    "width": pd.array([p[1] for p in parsed], dtype="Int32"),
                    "height": pd.array([p[2] for p in parsed], dtype="Int32"),
                    "n_bytes": pdf["payload"].map(lambda b: len(b or b"")).astype("int64"),
                }
            )

    return assets.select("asset_id", "payload").mapInPandas(run, META_SCHEMA)


def _fake_feature(payload: bytes, dims: int = 8) -> list[float]:
    """Deterministic stand-in feature: bytes of the md5 digest scaled to
    [0, 1) — stable across runs, no external deps."""
    import hashlib

    digest = hashlib.md5(payload or b"").digest()
    return [b / 256.0 for b in digest[:dims]]


def extract_features(assets: DataFrame) -> DataFrame:
    """Per-asset feature extraction over Arrow batches.

    Real semantics of the Spark side: binary payloads stream through
    ``mapInPandas`` in Arrow record batches (no per-row Python calls at
    the boundary), and the output schema is fixed and typed. Only the
    innermost decode kernel is stubbed.
    """
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "n_bytes": payloads.map(lambda b: len(b or b"")).astype("int64"),
                    "payload_digest": payloads.map(
                        lambda b: hashlib.md5(b or b"").hexdigest()
                    ),
                    "feature": payloads.map(_fake_feature),
                }
            )

    return assets.mapInPandas(run, FEATURE_SCHEMA)


SYNTH_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def synth_image_assets(documents: DataFrame) -> DataFrame:
    """Deterministic image assets derived from the documents table.

    ``doc_id`` picks the container format round-robin (png/jpeg/gif) and
    plants the dimensions through a fixed formula (w = 8 + id % 21,
    h = 8 + id % 13), so a downstream header decode can be verified
    end-to-end against arithmetic on the id alone."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        makers = (synth_png, synth_jpeg, synth_gif)
        for pdf in batches:
            if pdf.empty:
                continue
            payloads = [
                makers[int(i) % 3](8 + int(i) % 21, 8 + int(i) % 13)
                for i in pdf["doc_id"]
            ]
            yield pd.DataFrame({"asset_id": pdf["doc_id"], "payload": payloads})

    return documents.select("doc_id").mapInPandas(run, SYNTH_SCHEMA)


def resize_plan(
    meta: DataFrame,
    max_width: int,
    max_height: int,
    width_col: str = "width",
    height_col: str = "height",
) -> DataFrame:
    """Aspect-preserving resize PLANNING: for each decoded asset, the
    target dimensions that fit a ``max_width × max_height`` box without
    upscaling (scale capped at 1.0) and without distortion (one shared
    scale factor), floored to integers with a 1-px floor.

    This is the distributable half of a resize stage: the per-asset
    target geometry is pure JVM arithmetic over the decoded metadata
    (no Python, pipelines into the scan), and the pixel resample kernel
    — the part that needs an imaging library — consumes (payload,
    target_w, target_h) rows downstream with no further planning logic.
    Null dims (undecodable payloads) pass through as null plans rather
    than errors.
    """
    w = F.col(width_col).cast("double")
    h = F.col(height_col).cast("double")
    # least()/greatest() SKIP nulls in Spark (unlike arithmetic), so an
    # undecodable asset would get a fabricated (1.0, 1, 1) plan; gate
    # every output on both dims being present instead.
    ok = w.isNotNull() & h.isNotNull()
    scale = F.least(
        F.lit(float(max_width)) / w, F.lit(float(max_height)) / h, F.lit(1.0)
    )
    return meta.select(
        "*",
        F.when(ok, F.round(scale, 8)).alias("scale"),
        F.when(ok, F.greatest(F.lit(1), F.floor(w * scale).cast("int"))).alias(
            "target_w"
        ),
        F.when(ok, F.greatest(F.lit(1), F.floor(h * scale).cast("int"))).alias(
            "target_h"
        ),
    )


def frame_sample_plan(
    assets: DataFrame,
    interval_ms: int,
    id_col: str = "asset_id",
    duration_col: str = "duration_ms",
) -> DataFrame:
    """Uniform video frame-sampling PLAN: explode each asset into one
    row per sampled frame timestamp (every ``interval_ms`` from 0 up to
    the duration). Output: (asset_id, frame_idx, frame_ts_ms).

    The explode is the point: it turns per-video work into per-frame
    work items that distribute across the cluster (a 2-hour video and a
    10-second clip stop being the same task). The actual frame EXTRACT
    at each timestamp needs a video decoder (absent here — same stub
    boundary as :func:`decode_image`); everything up to handing
    (payload, frame_ts) pairs to that kernel is real Spark plumbing.
    """
    dur = F.col(duration_col).cast("long")
    # Guard dur < 1: sequence(0, negative) would raise/count down (the
    # same footgun shingles() guards); an empty array explodes to no rows.
    seq = F.when(
        dur >= 1,
        F.sequence(
            F.lit(0).cast("long"), dur - 1, F.lit(int(interval_ms)).cast("long")
        ),
    ).otherwise(F.array().cast("array<long>"))
    return assets.select(
        F.col(id_col),
        F.posexplode(seq).alias("frame_idx", "frame_ts_ms"),
    ).select(
        id_col, F.col("frame_idx").cast("int").alias("frame_idx"), "frame_ts_ms"
    )


def documents_as_assets(documents: DataFrame) -> DataFrame:
    """Adapter: treat the text corpus as binary assets so the multimodal
    path has real data to flow through in tests/benchmarks."""
    return documents.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("modality"),
        F.lit("application/octet-stream").alias("mime_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


# ---------------------------------------------------------------------------
# Audio: RIFF/WAVE header synthesis + pure-struct metadata decode


def synth_wav(
    sample_rate: int,
    channels: int,
    n_frames: int,
    bits: int = 16,
    data: bytes | None = None,
) -> bytes:
    """A fully-valid PCM WAV container: RIFF header + fmt chunk + data
    chunk. Everything a metadata decode needs (rate, channels, width,
    frame count) is real; ``data`` defaults to silence but accepts
    real PCM bytes (must be n_frames · block_align long)."""
    import struct

    block_align = channels * bits // 8
    byte_rate = sample_rate * block_align
    if data is None:
        data = b"\x00" * (n_frames * block_align)
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate, block_align, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_wav_meta(
    payload: bytes | None,
) -> tuple[int | None, int | None, int | None, int | None]:
    """(sample_rate, channels, bits, n_frames) from RIFF/WAVE headers —
    chunk-walk over raw bytes, no audio libraries. Non-WAV or truncated
    payloads yield all-nulls."""
    import struct

    b = payload or b""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return (None, None, None, None)
    pos, rate, channels, bits, block_align, data_len = 12, None, None, None, None, None
    while pos + 8 <= len(b):
        tag = b[pos : pos + 4]
        (size,) = struct.unpack("<I", b[pos + 4 : pos + 8])
        if tag == b"fmt " and pos + 8 + 16 <= len(b):
            _, channels, rate, _, block_align, bits = struct.unpack(
                "<HHIIHH", b[pos + 8 : pos + 24]
            )
        elif tag == b"data":
            data_len = size
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if rate is None or data_len is None or not block_align:
        return (None, None, None, None)
    return (rate, channels, bits, data_len // block_align)


AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("bits", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_ms", T.DoubleType()),
    ]
)


def decode_audio_meta(assets: DataFrame) -> DataFrame:
    """Arrow-batched WAV metadata decode (the audio twin of
    :func:`decode_image_meta`): RIFF chunk-walk per payload, typed
    output, nulls for undecodable rows. duration_ms is a single IEEE
    division (frames · 1000 / rate) — deterministic cross-engine."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            parsed = [parse_wav_meta(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "sample_rate": pd.array([p[0] for p in parsed], dtype="Int32"),
                    "channels": pd.array([p[1] for p in parsed], dtype="Int32"),
                    "bits": pd.array([p[2] for p in parsed], dtype="Int32"),
                    "n_frames": pd.array([p[3] for p in parsed], dtype="Int64"),
                    "duration_ms": [
                        (float(p[3]) * 1000.0 / float(p[0]))
                        if p[0] is not None and p[3] is not None
                        else None
                        for p in parsed
                    ],
                }
            )

    return assets.select("asset_id", "payload").mapInPandas(run, AUDIO_META_SCHEMA)


def synth_audio_assets(documents: DataFrame) -> DataFrame:
    """Deterministic WAV assets from the documents table: doc_id plants
    (rate ∈ {8000, 16000, 44100}, channels ∈ {1, 2}, frames = 100 +
    id % 900) so the decode is verifiable by id arithmetic alone."""
    rates = (8000, 16000, 44100)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            payloads = [
                synth_wav(rates[int(i) % 3], 1 + int(i) % 2, 100 + int(i) % 900)
                for i in pdf["doc_id"]
            ]
            yield pd.DataFrame({"asset_id": pdf["doc_id"], "payload": payloads})

    return documents.select("doc_id").mapInPandas(run, SYNTH_SCHEMA)


# ---------------------------------------------------------------------------
# Video: minimal ISO-BMFF (MP4) synthesis + pure-struct metadata decode


def synth_mp4(timescale: int, duration: int, n_tracks: int = 1) -> bytes:
    """A minimal-but-valid ISO-BMFF skeleton: ftyp + moov(mvhd + one
    empty trak per track). Everything a metadata decode needs
    (timescale, duration, track count) is real box structure."""
    import struct

    def box(typ: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    # mvhd version 0: creation/modification (0), timescale, duration,
    # rate 1.0, volume 1.0, reserved, matrix, predefined, next_track_id
    mvhd = box(
        b"mvhd",
        struct.pack(">B3x", 0)
        + struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">i", 0x00010000)
        + struct.pack(">h", 0x0100)
        + b"\x00" * 10
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", n_tracks + 1),
    )
    traks = b"".join(box(b"trak", b"") for _ in range(n_tracks))
    return ftyp + box(b"moov", mvhd + traks)


def parse_mp4_meta(
    payload: bytes | None,
) -> tuple[int | None, int | None, int | None]:
    """(timescale, duration, n_tracks) from the moov/mvhd + trak boxes —
    a top-two-level ISO-BMFF box walk over raw bytes, no media
    libraries. Non-MP4 or truncated payloads yield all-nulls."""
    import struct

    b = payload or b""
    if len(b) < 12 or b[4:8] != b"ftyp":
        return (None, None, None)
    try:
        return _walk_mp4_boxes(b)
    except struct.error:
        # belt-and-braces: every unpack below is bounds-guarded, but the
        # corrupt-isolation contract (malformed payload => nulls, never a
        # task failure) must survive future edits too
        return (None, None, None)


def _walk_mp4_boxes(b: bytes) -> tuple[int | None, int | None, int | None]:
    import struct

    pos, timescale, duration, n_tracks = 0, None, None, 0
    while pos + 8 <= len(b):
        (size,) = struct.unpack(">I", b[pos : pos + 4])
        typ = b[pos + 4 : pos + 8]
        if size < 8 or pos + size > len(b):
            break
        if typ == b"moov":
            inner = pos + 8
            end = pos + size
            while inner + 8 <= end:
                (isz,) = struct.unpack(">I", b[inner : inner + 4])
                ityp = b[inner + 4 : inner + 8]
                if isz < 8 or inner + isz > end:
                    break
                if ityp == b"mvhd":
                    # All reads must stay inside THIS box (inner + isz), not
                    # just inside moov: a short mvhd followed by sibling
                    # boxes would otherwise yield garbage from their bytes,
                    # and a truncated v1 mvhd would raise struct.error and
                    # kill the task instead of yielding nulls.
                    box_end = inner + isz  # isz already bounded by `end`
                    version = b[inner + 8] if inner + 9 <= box_end else None
                    if version == 0 and inner + 28 <= box_end:
                        timescale, duration = struct.unpack(
                            ">II", b[inner + 20 : inner + 28]
                        )
                    elif version == 1 and inner + 40 <= box_end:
                        # version 1: 64-bit creation/modification times
                        timescale = struct.unpack(">I", b[inner + 28 : inner + 32])[0]
                        duration = struct.unpack(">Q", b[inner + 32 : inner + 40])[0]
                elif ityp == b"trak":
                    n_tracks += 1
                inner += isz
        pos += size
    if timescale is None:
        return (None, None, None)
    return (timescale, duration, n_tracks)


VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("timescale", T.IntegerType()),
        T.StructField("duration_ticks", T.LongType()),
        T.StructField("n_tracks", T.IntegerType()),
        T.StructField("duration_ms", T.DoubleType()),
    ]
)


def decode_video_meta(assets: DataFrame) -> DataFrame:
    """Arrow-batched MP4 metadata decode (the video leg of the
    image/audio/video decode triple): ISO-BMFF box walk per payload,
    typed nullable output, duration_ms as one IEEE division."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            parsed = [parse_mp4_meta(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "timescale": pd.array([p[0] for p in parsed], dtype="Int32"),
                    "duration_ticks": pd.array([p[1] for p in parsed], dtype="Int64"),
                    "n_tracks": pd.array([p[2] for p in parsed], dtype="Int32"),
                    "duration_ms": [
                        (float(p[1]) * 1000.0 / float(p[0]))
                        if p[0] is not None and p[1] is not None and p[0] != 0
                        else None
                        for p in parsed
                    ],
                }
            )

    return assets.select("asset_id", "payload").mapInPandas(run, VIDEO_META_SCHEMA)


def synth_video_assets(documents: DataFrame) -> DataFrame:
    """Deterministic MP4 assets from the documents table: doc_id plants
    (timescale ∈ {600, 1000, 90000}, duration = 1000 + id % 9000 ticks,
    tracks = 1 + id % 3)."""
    scales = (600, 1000, 90000)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            payloads = [
                synth_mp4(scales[int(i) % 3], 1000 + int(i) % 9000, 1 + int(i) % 3)
                for i in pdf["doc_id"]
            ]
            yield pd.DataFrame({"asset_id": pdf["doc_id"], "payload": payloads})

    return documents.select("doc_id").mapInPandas(run, SYNTH_SCHEMA)


# ---------------------------------------------------------------------------
# Real pixel pipeline: gradient PNGs → stdlib decode → stats / perceptual hash


def gradient_params(doc_id: int) -> tuple[int, int, int]:
    """(width, height, base) planted from the id: the gradient pixel
    function is pixel(x, y) = (base + 3x + 7y) mod 256, so every
    downstream PIXEL computation (sums, grid samples, aHash bits) can be
    verified end-to-end against id arithmetic alone — which makes the
    real zlib+unfilter decode path hash-checkable by a SQL oracle."""
    return 32 + (doc_id % 4) * 8, 32 + ((doc_id // 4) % 4) * 8, doc_id % 128


def synth_png_gradient(width: int, height: int, base: int) -> bytes:
    """Fully-valid grayscale PNG whose pixels follow the planted
    gradient (base + 3x + 7y) mod 256 — non-trivial content for the
    real pixel decoder and the perceptual hash, unlike the uniform
    fills of :func:`synth_png`."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes((base + 3 * x + 7 * y) % 256 for x in range(width))
        for y in range(height)
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


_PARAM_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("base", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def _synth_param_assets(documents: DataFrame, gen) -> DataFrame:
    """Shared param-contracted asset synthesis (r5): the planted
    (w, h, base) triple repeats with period 128 in doc_id, so the
    Python encoder — by far the dominant cost of every synthetic
    multimodal query — runs once per DISTINCT triple and the payloads
    equi-join back to the asset ids. The triple is computed with JVM
    expressions that mirror :func:`gradient_params` exactly (pinned by
    a pytest identity against the Python function)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "h": pdf["h"],
                    "base": pdf["base"],
                    "payload": [
                        gen(int(w), int(h), int(b))
                        for w, h, b in zip(pdf["w"], pdf["h"], pdf["base"])
                    ],
                }
            )

    keyed = (
        documents.select("doc_id")
        .where(F.col("doc_id") % 5 == 0)
        .select(
            "doc_id",
            (F.lit(32) + (F.col("doc_id") % 4) * 8).cast("int").alias("w"),
            (F.lit(32) + (F.shiftright("doc_id", 2) % 4) * 8)
            .cast("int")
            .alias("h"),
            (F.col("doc_id") % 128).cast("int").alias("base"),
        )
    )
    payloads = (
        keyed.select("w", "h", "base").distinct().mapInPandas(
            run, _PARAM_PAYLOAD_SCHEMA
        )
    )
    return keyed.join(payloads, ["w", "h", "base"]).select(
        F.col("doc_id").alias("asset_id"), "payload"
    )


def synth_gradient_assets(documents: DataFrame) -> DataFrame:
    """Gradient PNG assets for every 5th document (a bounded asset set
    with planted near-duplicate structure: ids sharing (w, h) produce
    shift-related gradients whose aHashes collide or nearly collide).
    Param-contracted: the PNG encoder runs once per distinct planted
    triple (see :func:`_synth_param_assets`)."""
    return _synth_param_assets(documents, synth_png_gradient)


def synth_jpeg_gradient_assets(documents: DataFrame) -> DataFrame:
    """Baseline-JPEG tile-gradient assets for every 5th document (same
    planted-parameter discipline as :func:`synth_gradient_assets`, but
    the payload rides the full Huffman+DCT codec: flat 8×8 tiles are
    DC-only blocks, so `operators/jpeg.py` decodes the planted values
    EXACTLY and the SQL oracle hash-checks the real entropy-decode +
    IDCT chain). Param-contracted encode."""
    from tfl_realtime_lakehouse_spark.operators.jpeg import (
        synth_jpeg_tile_gradient,
    )

    return _synth_param_assets(documents, synth_jpeg_tile_gradient)


def synth_gif_gradient_assets(documents: DataFrame) -> DataFrame:
    """GIF gradient assets for every 5th document — the SAME planted
    pixel function as :func:`synth_gradient_assets` (GIF is
    index-mapped/lossless, so the PNG oracle arithmetic hash-checks
    the real LZW decode path verbatim). Param-contracted encode."""
    from tfl_realtime_lakehouse_spark.operators.gif import synth_gif_gradient

    return _synth_param_assets(documents, synth_gif_gradient)


PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("px_mean", T.DoubleType()),
        T.StructField("px_min", T.IntegerType()),
        T.StructField("px_max", T.IntegerType()),
    ]
)


_REP_STATS_SCHEMA = T.StructType(
    [
        T.StructField("_pk", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("px_mean", T.DoubleType()),
        T.StructField("px_min", T.IntegerType()),
        T.StructField("px_max", T.IntegerType()),
    ]
)


def pixel_stats(assets: DataFrame) -> DataFrame:
    """REAL pixel statistics: decode payloads with the pure-stdlib
    decoders (PNG zlib+unfilter, baseline-JPEG Huffman+IDCT, or GIF
    LZW via :func:`decode_pixels`) and reduce the actual pixel matrix.
    Corrupt/unsupported payloads yield null stats. Exact integer sum
    (and one IEEE division for the mean) so the whole decode chain is
    bit-checkable cross-engine.

    Content-addressed decode contraction (r5): byte-identical payloads
    decode ONCE — group by md5(payload), run the expensive Python
    codec over DISTINCT content only, equi-join the stats back to
    every asset id. Media corpora at scale are heavily
    content-duplicated (mirrors, reposts, crawl dups), so the codec —
    by far the dominant cost — must run per distinct blob, not per
    row; the two fixed-width-key exchanges this adds are noise next to
    it (the r5 sf5 sweep measured the GIF leg at 66 s decoding 50 k
    payloads drawn from ~128 distinct contents). Same uniform rule as
    the pair operators: contract exact duplicates before the expensive
    stage.

    Contraction-key collision assumption (ADVICE r5): md5 is used as
    the content-identity key here and in the text/embedding
    contractions, matching the DuckDB-oracle digests elsewhere in the
    registry. md5 collisions are practically constructible, so an
    ADVERSARIAL corpus could alias two distinct payloads onto one
    stats row; for benchmark/crawl corpora this is a non-event. A
    production deployment that must resist adversarial inputs should
    swap the key to ``F.sha2(col, 256)`` — identical plan shape, one
    wider shuffle key — as already done for the prod-keyed xxhash64
    paths."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for pk, payload in zip(pdf["_pk"], pdf["payload"]):
                px = decode_pixels(payload)
                if px is None:
                    rows.append((pk, None, None, None, None, None, None))
                    continue
                h, w = px.shape[:2]
                s = int(px.sum(dtype=np.int64))
                rows.append(
                    (
                        pk, w, h, s,
                        s / float(px.size),
                        int(px.min()), int(px.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "_pk", "width", "height", "px_sum",
                    "px_mean", "px_min", "px_max",
                ],
            ).astype(
                {
                    "width": "Int32", "height": "Int32", "px_sum": "Int64",
                    "px_min": "Int32", "px_max": "Int32",
                }
            )

    keyed = assets.select("asset_id", F.md5("payload").alias("_pk"), "payload")
    reps = keyed.select("_pk", "payload").dropDuplicates(["_pk"])
    stats = reps.mapInPandas(run, _REP_STATS_SCHEMA)
    return (
        keyed.select("asset_id", "_pk")
        .join(stats, "_pk")
        .select(
            "asset_id", "width", "height", "px_sum",
            "px_mean", "px_min", "px_max",
        )
    )


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("phash", T.LongType()),
    ]
)


def ahash64(assets: DataFrame) -> DataFrame:
    """64-bit average-hash perceptual fingerprint from REAL decoded
    pixels: point-sample an 8×8 grid at (⌊i·w/8⌋, ⌊j·h/8⌋), set bit
    j·8+i iff the sample exceeds the mean of the 64 samples (sum/64.0,
    one IEEE division — deterministic cross-engine). Point sampling
    (instead of block means) keeps the hash integer-exact and therefore
    oracle-checkable; undecodable payloads yield a null hash. The
    standard near-dup fingerprint for image corpora — pairs come from
    :func:`~tfl_realtime_lakehouse_spark.operators.dedup.hamming_near_pairs`."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                px = decode_png_pixels(payload)
                if px is None:
                    out.append((int(aid), None))
                    continue
                if px.ndim == 3:  # RGB → rec.601-free integer luma proxy
                    px = px.mean(axis=2).astype("int64")
                h, w = px.shape
                samples = [
                    int(px[(j * h) // 8][(i * w) // 8])
                    for j in range(8)
                    for i in range(8)
                ]
                mean = sum(samples) / 64.0
                sig = 0
                for k, s in enumerate(samples):
                    if s > mean:
                        sig |= 1 << k
                if sig >= 1 << 63:
                    sig -= 1 << 64  # two's-complement into a signed long
                out.append((int(aid), sig))
            yield pd.DataFrame(out, columns=["asset_id", "phash"]).astype(
                {"phash": "Int64"}
            )

    return assets.select("asset_id", "payload").mapInPandas(run, AHASH_SCHEMA)


# ---------------------------------------------------------------------------
# Audio: REAL PCM sample decode + frame-level feature extraction
# (the audio twin of decode_png_pixels/pixel_stats: the planted
# waveform is pure integer arithmetic, so a SQL oracle re-derives the
# features from ids alone and the whole decode chain is hash-checked)

def tone_sample(asset_id: int, t: int) -> int:
    """The planted deterministic waveform: sample t of asset
    ``asset_id`` is ((id·31 + t·7) mod 2048) − 1024 — int16-safe,
    engine-replicable integer arithmetic (no trig, no floats)."""
    return ((asset_id * 31 + t * 7) % 2048) - 1024


def synth_tone_wav(asset_id: int, n_frames: int, sample_rate: int = 8000) -> bytes:
    """Mono 16-bit WAV whose PCM payload is the planted waveform."""
    import struct

    samples = [tone_sample(asset_id, t) for t in range(n_frames)]
    data = struct.pack(f"<{len(samples)}h", *samples)
    return synth_wav(sample_rate, 1, n_frames, bits=16, data=data)


def synth_tone_assets(documents: DataFrame, content_mod: int | None = None) -> DataFrame:
    """Tone WAV assets for every 4th document; n_frames = 160 + id % 160
    so frame counts vary and the tail partial frame is exercised.

    ``content_mod``: plant the waveform from ``doc_id % content_mod``
    instead of doc_id, so congruent assets are byte-identical
    RECORDINGS under distinct asset ids — the planted ground truth for
    audio dedup workloads. Default None keeps per-asset-unique tones."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = [int(i) for i in pdf["doc_id"]]
            keys = ids if content_mod is None else [i % content_mod for i in ids]
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "payload": [
                        synth_tone_wav(k, 160 + k % 160) for k in keys
                    ],
                }
            )

    return (
        documents.select("doc_id")
        .where(F.col("doc_id") % 4 == 0)
        .mapInPandas(run, SYNTH_SCHEMA)
    )


def parse_wav_pcm16(payload: bytes | None):
    """Mono 16-bit PCM samples from a RIFF/WAVE payload as an int64
    numpy array, or None for non-WAV / non-mono-16-bit / truncated
    payloads (corrupt isolation, same contract as parse_wav_meta)."""
    import struct

    import numpy as np

    b = payload or b""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, fmt_ok, data = 12, False, None
    try:
        while pos + 8 <= len(b):
            tag = b[pos : pos + 4]
            (size,) = struct.unpack("<I", b[pos + 4 : pos + 8])
            if tag == b"fmt " and pos + 8 + 16 <= len(b):
                audio_fmt, channels, _, _, _, bits = struct.unpack(
                    "<HHIIHH", b[pos + 8 : pos + 24]
                )
                fmt_ok = audio_fmt == 1 and channels == 1 and bits == 16
            elif tag == b"data":
                if pos + 8 + size > len(b):
                    return None  # truncated data chunk
                data = b[pos + 8 : pos + 8 + size]
            pos += 8 + size + (size & 1)
    except struct.error:
        return None
    if not fmt_ok or data is None:
        return None
    return np.frombuffer(data[: len(data) // 2 * 2], dtype="<i2").astype(np.int64)


AUDIO_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("frame_id", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("sum_sq", T.LongType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def audio_frame_rms(assets: DataFrame, frame_len: int = 80) -> DataFrame:
    """REAL frame-level audio feature extraction: decode the PCM
    samples of every WAV payload and emit per-frame RMS energy — the
    VAD/loudness primitive of audio curation pipelines. Full frames
    only (the tail partial frame is dropped, documented); sum of
    squares is exact int64, RMS is one IEEE sqrt(ss/n) rounded to
    6 dp, so the features hash-match a SQL oracle that re-derives the
    planted waveform. Undecodable payloads yield zero rows (corrupt
    isolation). Arrow-batched mapInPandas — pure struct/numpy, no
    audio libraries."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out = {k.name: [] for k in AUDIO_FRAMES_SCHEMA.fields}
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                s = parse_wav_pcm16(payload)
                if s is None:
                    continue
                nf = len(s) // frame_len
                for f in range(nf):
                    chunk = s[f * frame_len : (f + 1) * frame_len]
                    ss = int(np.sum(chunk * chunk))
                    out["asset_id"].append(int(aid))
                    out["frame_id"].append(f)
                    out["n_samples"].append(frame_len)
                    out["sum_sq"].append(ss)
                    out["rms"].append(round((ss / frame_len) ** 0.5, 6))
            yield pd.DataFrame(
                {
                    "asset_id": pd.array(out["asset_id"], dtype="Int64"),
                    "frame_id": pd.array(out["frame_id"], dtype="Int32"),
                    "n_samples": pd.array(out["n_samples"], dtype="Int32"),
                    "sum_sq": pd.array(out["sum_sq"], dtype="Int64"),
                    "rms": pd.array(out["rms"], dtype="float64"),
                }
            )

    return assets.select("asset_id", "payload").mapInPandas(run, AUDIO_FRAMES_SCHEMA)


# ---------------------------------------------------------------------------
# WebDataset-style tar shards: the LLM training-data container format.
# Real POSIX-ustar writer AND parser (512-byte blocks, octal fields,
# the spaces-then-store header checksum) — no tarfile module, so the
# byte layout is pinned by this code, not a library version.

_TAR_BLOCK = 512
TAR_SHARD_DOCS = 16  # documents per shard (the WebDataset shard unit)


def _octal(value: int, width: int) -> bytes:
    """Zero-padded octal field with trailing NUL (ustar numeric form)."""
    return f"{value:0{width - 1}o}".encode() + b"\x00"


def tar_member_bytes(name: str, data: bytes) -> bytes:
    """One ustar member: 512-byte header (with the real checksum —
    sum of header bytes with the chksum field as 8 spaces, stored as
    6 octal digits + NUL + space) followed by the payload padded to a
    512 boundary."""
    h = bytearray(_TAR_BLOCK)
    nb = name.encode()
    # ustar hard limits: the name field is 100 bytes and the size field
    # 11 octal digits (~8 GiB). Out-of-range members must fail LOUDLY —
    # a silent bytearray spill into mode/uid would emit a corrupt shard.
    if len(nb) > 100:
        raise ValueError(f"tar member name exceeds ustar 100-byte field: {name!r}")
    if len(data) >= 8**11:
        raise ValueError(f"tar member payload {len(data)} B exceeds the 11-digit octal size field")
    h[0 : len(nb)] = nb                      # name[100]
    h[100:108] = _octal(0o644, 8)            # mode
    h[108:116] = _octal(0, 8)                # uid
    h[116:124] = _octal(0, 8)                # gid
    h[124:136] = _octal(len(data), 12)       # size
    h[136:148] = _octal(0, 12)               # mtime (fixed: determinism)
    h[148:156] = b" " * 8                    # chksum placeholder
    h[156] = 0x30                            # typeflag '0' (regular)
    h[257:263] = b"ustar\x00"                # magic
    h[263:265] = b"00"                       # version
    ck = sum(h)
    h[148:155] = f"{ck:06o}".encode() + b"\x00"
    h[155] = 0x20
    pad = (-len(data)) % _TAR_BLOCK
    return bytes(h) + data + b"\x00" * pad


TAR_SHARD_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def synth_tar_shards(
    documents: DataFrame, shard_docs: int = TAR_SHARD_DOCS
) -> DataFrame:
    """Pack the documents table into WebDataset-style tar shards:
    shard = doc_id // shard_docs, members ``doc<id:08d>.txt`` in
    doc_id order (the manifest's replayable total order), null text →
    empty member. One applyInPandas task per shard — the shard IS the
    parallelism unit, exactly as a 100 TB export would lay them out."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        blob = b"".join(
            tar_member_bytes(
                f"doc{int(i):08d}.txt",
                (t if isinstance(t, str) else "").encode(),
            )
            for i, t in zip(pdf["doc_id"], pdf["text"])
        )
        blob += b"\x00" * (2 * _TAR_BLOCK)  # end-of-archive marker
        return pd.DataFrame(
            {"shard_id": [int(pdf["shard_id"].iloc[0])], "payload": [blob]}
        )

    return (
        documents.select(
            F.floor(F.col("doc_id") / shard_docs).cast("long").alias("shard_id"),
            "doc_id",
            "text",
        )
        .groupBy("shard_id")
        .applyInPandas(build, TAR_SHARD_SCHEMA)
    )


TAR_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType()),
        T.StructField("member", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("offset", T.LongType()),
        T.StructField("cksum_ok", T.BooleanType()),
    ]
)


def parse_tar_manifest(shards: DataFrame) -> DataFrame:
    """Walk each shard's 512-byte blocks and emit the member manifest
    (name, size, HEADER byte offset, checksum verification) — the
    random-access index a training loader needs to read one document
    out of a multi-GB shard without scanning it. Map-only over
    shards; stops at the end-of-archive zero block."""

    def walk(payload: bytes):
        out = []
        off = 0
        while off + _TAR_BLOCK <= len(payload):
            h = payload[off : off + _TAR_BLOCK]
            if h == b"\x00" * _TAR_BLOCK:
                break
            name = h[0:100].split(b"\x00", 1)[0].decode()
            size = int(h[124:135].decode(), 8)
            stored = int(
                h[148:156].replace(b"\x00", b" ").strip().decode() or "0", 8
            )
            ck = sum(h[0:148]) + 8 * 0x20 + sum(h[156:])
            out.append((name, size, off, ck == stored))
            off += _TAR_BLOCK + ((size + _TAR_BLOCK - 1) // _TAR_BLOCK) * _TAR_BLOCK
        return out

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = {c: [] for c in ("shard_id", "member", "n_bytes", "offset", "cksum_ok")}
            for sid, payload in zip(pdf["shard_id"], pdf["payload"]):
                for name, size, off, ok in walk(bytes(payload)):
                    rows["shard_id"].append(int(sid))
                    rows["member"].append(name)
                    rows["n_bytes"].append(size)
                    rows["offset"].append(off)
                    rows["cksum_ok"].append(ok)
            yield pd.DataFrame(rows)

    return shards.mapInPandas(run, TAR_MANIFEST_SCHEMA)
