"""Multimodal plumbing tests: Arrow-batched feature extraction over
binary payloads — real schema/batch path, stubbed decode kernel."""

from __future__ import annotations

import hashlib
from functools import cache

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tfl_realtime_lakehouse_spark.operators import multimodal as M
from tfl_realtime_lakehouse_spark.sources.tables import read_table


def test_assets_schema_and_feature_extraction(spark, sf_smoke):
    def shape(schema):  # names + types; nullability differs for literals
        return [(f.name, f.dataType) for f in schema.fields]

    assets = M.documents_as_assets(read_table(spark, sf_smoke, "documents"))
    assert shape(assets.schema) == shape(M.ASSET_SCHEMA)
    feats = M.extract_features(assets)
    assert shape(feats.schema) == shape(M.FEATURE_SCHEMA)
    rows = feats.limit(5).collect()
    assert rows
    for r in rows:
        assert r.n_bytes > 0
        assert len(r.payload_digest) == 32
        assert len(r.feature) == 8
        assert all(0.0 <= v < 1.0 for v in r.feature)


def test_feature_is_deterministic_digest(spark):
    assets = spark.createDataFrame(
        [(1, "image", "application/octet-stream", b"hello", None, None, None)],
        M.ASSET_SCHEMA,
    )
    row = M.extract_features(assets).collect()[0]
    assert row.payload_digest == hashlib.md5(b"hello").hexdigest()
    expected = [b / 256.0 for b in hashlib.md5(b"hello").digest()[:8]]
    assert row.feature == expected


def test_decode_image_raises_loudly_on_undecodable():
    # corrupt/truncated payloads raise instead of returning garbage
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG...")


@pytest.mark.parametrize(
    "make,fmt",
    [(M.synth_png, "png"), (M.synth_jpeg, "jpeg"), (M.synth_gif, "gif")],
)
@pytest.mark.parametrize("dims", [(1, 1), (8, 13), (300, 200), (65535, 1)])
def test_parse_image_dims_roundtrip(make, fmt, dims):
    w, h = dims
    assert M.parse_image_dims(make(w, h)) == (fmt, w, h)


def test_parse_image_dims_large_png():
    # PNG dims are 32-bit big-endian — exercise past the 16-bit range
    assert M.parse_image_dims(M.synth_png(70000, 3)) == ("png", 70000, 3)


@pytest.mark.parametrize(
    "payload",
    [None, b"", b"not an image at all", b"\x89PNG\r\n\x1a\n trunc",
     b"\xff\xd8\xff", b"GIF8"],
)
def test_parse_image_dims_garbage_yields_nulls(payload):
    assert M.parse_image_dims(payload) == (None, None, None)


def test_decode_image_meta_end_to_end(spark):
    rows = [
        (1, M.synth_png(10, 20)),
        (2, M.synth_jpeg(30, 40)),
        (3, M.synth_gif(50, 60)),
        (4, b"corrupt"),
    ]
    df = spark.createDataFrame(rows, M.SYNTH_SCHEMA)
    got = {
        r.asset_id: (r.img_format, r.width, r.height, r.n_bytes)
        for r in M.decode_image_meta(df).collect()
    }
    assert got[1] == ("png", 10, 20, len(rows[0][1]))
    assert got[2] == ("jpeg", 30, 40, len(rows[1][1]))
    assert got[3] == ("gif", 50, 60, len(rows[2][1]))
    assert got[4] == (None, None, None, 7)


def test_synth_assets_decode_recovers_planted_dims(spark, sf_smoke):
    docs = read_table(spark, sf_smoke, "documents")
    meta = M.decode_image_meta(M.synth_image_assets(docs))
    for r in meta.limit(50).collect():
        i = r.asset_id
        assert r.img_format == ("png", "jpeg", "gif")[i % 3]
        assert (r.width, r.height) == (8 + i % 21, 8 + i % 13)


def test_resize_plan_never_upscales_and_floors_at_one(spark):
    from tfl_realtime_lakehouse_spark.operators.multimodal import resize_plan

    meta = spark.createDataFrame(
        [
            (1, 32, 16),    # downscale, width-bound
            (2, 8, 8),      # already fits: scale 1.0, dims unchanged
            (3, 2000, 2),   # extreme aspect: height floors to 1, not 0
            (4, None, None),  # undecodable: null plan, no error
        ],
        "asset_id long, width int, height int",
    )
    got = {
        r.asset_id: (r.scale, r.target_w, r.target_h)
        for r in resize_plan(meta, 16, 16).collect()
    }
    assert got[1] == (0.5, 16, 8)
    assert got[2] == (1.0, 8, 8)           # no upscale
    assert got[3][1:] == (16, 1)           # 1-px floor
    assert got[4] == (None, None, None)    # nulls propagate


def test_frame_sample_plan_counts_and_degenerate_durations(spark):
    from tfl_realtime_lakehouse_spark.operators.multimodal import frame_sample_plan

    vids = spark.createDataFrame(
        [(1, 2000), (2, 750), (3, 1), (4, 0), (5, None)],
        "asset_id long, duration_ms long",
    )
    rows = frame_sample_plan(vids, interval_ms=750).collect()
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r.asset_id, []).append((r.frame_idx, r.frame_ts_ms))
    assert sorted(by_asset[1]) == [(0, 0), (1, 750), (2, 1500)]  # < 2000
    assert sorted(by_asset[2]) == [(0, 0)]                       # 750 > 749
    assert sorted(by_asset[3]) == [(0, 0)]
    assert 4 not in by_asset and 5 not in by_asset               # guarded, no rows


def test_wav_decode_roundtrip_and_corrupt_nulls(spark):
    """RIFF chunk-walk recovers planted (rate, channels, bits, frames);
    corrupt and truncated payloads yield all-null metadata rows."""
    from tfl_realtime_lakehouse_spark.operators.multimodal import (
        decode_audio_meta,
        synth_wav,
    )

    rows = [
        (1, synth_wav(8000, 1, 100)),
        (2, synth_wav(44100, 2, 900, bits=8)),
        (3, b"not a wav at all"),
        (4, synth_wav(16000, 1, 50)[:20]),  # truncated mid-header
    ]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    got = {r["asset_id"]: r for r in decode_audio_meta(df).collect()}
    assert (
        got[1]["sample_rate"], got[1]["channels"], got[1]["bits"], got[1]["n_frames"]
    ) == (8000, 1, 16, 100)
    assert abs(got[1]["duration_ms"] - 12.5) < 1e-9
    assert (got[2]["sample_rate"], got[2]["channels"], got[2]["bits"]) == (44100, 2, 8)
    assert got[2]["n_frames"] == 900
    for bad in (3, 4):
        assert got[bad]["sample_rate"] is None and got[bad]["duration_ms"] is None


def test_mp4_decode_roundtrip_and_corrupt_nulls(spark):
    """ISO-BMFF box walk recovers planted (timescale, duration, tracks),
    including a version-1 mvhd; corrupt payloads yield all-nulls."""
    import struct

    from tfl_realtime_lakehouse_spark.operators.multimodal import (
        decode_video_meta,
        parse_mp4_meta,
        synth_mp4,
    )

    # version-1 mvhd (64-bit times) built by hand
    def box(typ, payload):
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    mvhd_v1 = box(
        b"mvhd",
        struct.pack(">B3x", 1)
        + struct.pack(">QQ", 0, 0)
        + struct.pack(">I", 48000)
        + struct.pack(">Q", 96000)
        + b"\x00" * 80,
    )
    v1_payload = box(b"ftyp", b"isom") + box(b"moov", mvhd_v1 + box(b"trak", b""))
    assert parse_mp4_meta(v1_payload) == (48000, 96000, 1)

    # truncated v1 mvhd: box claims 32 bytes and the buffer ends there —
    # must yield nulls, not struct.error (corrupt-isolation contract)
    mvhd_trunc = struct.pack(">I", 32) + b"mvhd" + struct.pack(">B3x", 1) + b"\x00" * 20
    trunc = box(b"ftyp", b"isom") + (
        struct.pack(">I", 8 + len(mvhd_trunc)) + b"moov" + mvhd_trunc
    )
    assert parse_mp4_meta(trunc) == (None, None, None)

    # short v1 mvhd followed by a sibling box: reads must stop at the
    # mvhd box boundary, not pull garbage from the sibling's bytes
    mvhd_short = box(b"mvhd", struct.pack(">B3x", 1) + b"\x00" * 16)
    short = box(b"ftyp", b"isom") + box(b"moov", mvhd_short + box(b"trak", b""))
    assert parse_mp4_meta(short) == (None, None, None)

    rows = [
        (1, synth_mp4(600, 3000, 1)),
        (2, synth_mp4(90000, 450000, 3)),
        (3, b"\x00\x00\x00\x08junk"),
        (4, synth_mp4(1000, 2000, 1)[:15]),
    ]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    got = {r["asset_id"]: r for r in decode_video_meta(df).collect()}
    assert (got[1]["timescale"], got[1]["duration_ticks"], got[1]["n_tracks"]) == (600, 3000, 1)
    assert abs(got[1]["duration_ms"] - 5000.0) < 1e-9
    assert got[2]["n_tracks"] == 3 and abs(got[2]["duration_ms"] - 5000.0) < 1e-9
    for bad in (3, 4):
        assert got[bad]["timescale"] is None and got[bad]["duration_ms"] is None


def _png_chunk(typ, data):
    import struct
    import zlib

    return (
        struct.pack(">I", len(data)) + typ + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def test_png_pixel_decode_all_five_filters_roundtrip():
    """The pure-stdlib decoder must invert every PNG scanline filter
    (None/Sub/Up/Average/Paeth) bit-exactly, grayscale and RGB."""
    import struct
    import zlib

    import numpy as np

    from tfl_realtime_lakehouse_spark.operators.multimodal import (
        _PNG_SIG,
        decode_png_pixels,
    )

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    def encode(img, bpp):
        h, w = img.shape[0], img.shape[1]
        stride = w * bpp
        flat = img.reshape(h, stride).astype(int)
        prev = np.zeros(stride, dtype=int)
        rows = []
        for y in range(h):
            line, f = flat[y], y % 5
            enc = []
            for x in range(stride):
                left = line[x - bpp] if x >= bpp else 0
                up = prev[x]
                ul = prev[x - bpp] if x >= bpp else 0
                pred = (0, left, up, (left + up) // 2, paeth(left, up, ul))[f]
                enc.append((line[x] - pred) & 255)
            rows.append(bytes([f]) + bytes(enc))
            prev = line
        ctype = 0 if bpp == 1 else 2
        return (
            _PNG_SIG
            + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
            + _png_chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + _png_chunk(b"IEND", b"")
        )

    rng = np.random.default_rng(7)
    gray = rng.integers(0, 256, size=(10, 9), dtype=np.uint8)
    got = decode_png_pixels(encode(gray, 1))
    assert got is not None and (got == gray).all()
    rgb = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    got3 = decode_png_pixels(encode(rgb, 3))
    assert got3 is not None and got3.shape == (7, 5, 3) and (got3 == rgb).all()


def test_png_pixel_decode_corrupt_and_unsupported_yield_none():
    from tfl_realtime_lakehouse_spark.operators.multimodal import (
        decode_png_pixels,
        synth_png_gradient,
    )

    good = synth_png_gradient(16, 16, 5)
    assert decode_png_pixels(good) is not None
    assert decode_png_pixels(None) is None
    assert decode_png_pixels(good[:30]) is None  # truncated chunk
    assert decode_png_pixels(b"\xff\xd8\xff\xe0 jpeg") is None
    bad = bytearray(good)
    bad[45] ^= 0xFF  # flip a compressed IDAT byte → zlib/length error
    assert decode_png_pixels(bytes(bad)) is None


def test_ahash_identical_images_collide_and_pixel_stats_isolate(spark):
    """Identical gradient payloads hash to Hamming 0 through the generic
    chunk join; corrupt payloads yield null stats without killing the
    stage."""
    from pyspark.sql import functions as F

    from tfl_realtime_lakehouse_spark.operators import dedup as D
    from tfl_realtime_lakehouse_spark.operators.multimodal import (
        ahash64,
        pixel_stats,
        synth_png_gradient,
    )

    payload = synth_png_gradient(40, 32, 9)
    other = synth_png_gradient(48, 40, 70)
    df = spark.createDataFrame(
        [(1, payload), (2, payload), (3, other), (4, b"not a png")],
        "asset_id long, payload binary",
    )
    sigs = ahash64(df)
    got = {r["asset_id"]: r["phash"] for r in sigs.collect()}
    assert got[1] == got[2] and got[4] is None
    pairs = D.hamming_near_pairs(
        sigs.where(F.col("phash").isNotNull()), sig_col="phash",
        id_col="asset_id", max_hamming=0, blocks=4,
    ).collect()
    assert {(r["doc_a"], r["doc_b"], r["hamming"]) for r in pairs} == {(1, 2, 0)}

    stats = {r["asset_id"]: r for r in pixel_stats(df).collect()}
    assert stats[1]["px_sum"] == stats[2]["px_sum"] and stats[1]["width"] == 40
    assert stats[4]["px_sum"] is None and stats[4]["width"] is None


def test_wav_pcm_roundtrip_and_corrupt_isolation(spark):
    """PCM decode: synth tone WAV -> parse_wav_pcm16 recovers the exact
    planted samples; frame RMS drops the tail partial frame; corrupt /
    stereo / truncated payloads yield None (and zero frame rows), never
    an exception."""
    import numpy as np

    from tfl_realtime_lakehouse_spark.operators import multimodal as M

    wav = M.synth_tone_wav(7, 200)
    s = M.parse_wav_pcm16(wav)
    assert s is not None and len(s) == 200
    assert [int(x) for x in s[:5]] == [M.tone_sample(7, t) for t in range(5)]

    assert M.parse_wav_pcm16(None) is None
    assert M.parse_wav_pcm16(b"not a wav at all") is None
    assert M.parse_wav_pcm16(wav[:30]) is None  # truncated in fmt/data
    stereo = M.synth_wav(8000, 2, 50)
    assert M.parse_wav_pcm16(stereo) is None  # mono-16 contract

    assets = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"junk"))],
        "asset_id long, payload binary",
    )
    frames = M.audio_frame_rms(assets, frame_len=80).collect()
    # 200 samples -> 2 full frames; junk -> zero rows
    assert sorted((r["asset_id"], r["frame_id"]) for r in frames) == [(1, 0), (1, 1)]
    chunk = np.array([M.tone_sample(7, t) for t in range(80)], dtype=np.int64)
    ss = int((chunk * chunk).sum())
    r0 = next(r for r in frames if r["frame_id"] == 0)
    assert r0["sum_sq"] == ss
    assert abs(r0["rms"] - round((ss / 80) ** 0.5, 6)) < 1e-12


# ---------------------------------------------------------------------------
# Round 5: real JPEG + GIF codecs (operators/jpeg.py, operators/gif.py)


def test_jpeg_tile_gradient_decodes_exactly():
    """Flat 8×8 tiles are DC-only DCT blocks: the all-ones-quant
    encode→decode chain recovers the planted values EXACTLY — the
    property the hash-exact oracle relies on."""
    import numpy as np

    from tfl_realtime_lakehouse_spark.operators.jpeg import (
        decode_jpeg_pixels,
        synth_jpeg_tile_gradient,
    )

    px = decode_jpeg_pixels(synth_jpeg_tile_gradient(56, 40, 99))
    ty, tx = np.mgrid[0:5, 0:7]
    tiles = ((99 + 11 * tx + 5 * ty) % 256).astype(np.uint8)
    want = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1)
    assert px is not None and np.array_equal(px, want)


def test_jpeg_roundtrip_tolerance_gray_rgb_restart_420():
    """Random-content roundtrips through the real Huffman+DCT codec:
    grayscale/RGB within the DCT rounding bound, restart markers and
    4:2:0 chroma subsampling both exercised (chroma-safe content so
    subsampling itself is lossless)."""
    import numpy as np

    from tfl_realtime_lakehouse_spark.operators.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg_baseline,
    )

    rng = np.random.default_rng(42)
    gray = rng.integers(0, 256, (40, 48), dtype=np.uint8)
    dec = decode_jpeg_pixels(encode_jpeg_baseline(gray))
    assert np.abs(dec.astype(int) - gray.astype(int)).max() <= 1

    dec_r = decode_jpeg_pixels(encode_jpeg_baseline(gray, restart_interval=3))
    assert np.abs(dec_r.astype(int) - gray.astype(int)).max() <= 1

    rgb = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    dec3 = decode_jpeg_pixels(encode_jpeg_baseline(rgb))
    assert dec3.shape == (16, 16, 3)
    assert np.abs(dec3.astype(int) - rgb.astype(int)).max() <= 2

    # 4:2:0: every 2×2 block constant -> box subsample is exact
    coarse = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    img = np.repeat(np.repeat(coarse, 2, 0), 2, 1)
    dec4 = decode_jpeg_pixels(encode_jpeg_baseline(img, subsample420=True))
    assert np.abs(dec4.astype(int) - img.astype(int)).max() <= 3
    dec5 = decode_jpeg_pixels(
        encode_jpeg_baseline(img, restart_interval=2, subsample420=True)
    )
    assert np.abs(dec5.astype(int) - img.astype(int)).max() <= 3


def test_jpeg_corrupt_and_unsupported_yield_none():
    import numpy as np

    from tfl_realtime_lakehouse_spark.operators import multimodal as M
    from tfl_realtime_lakehouse_spark.operators.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg_baseline,
    )

    good = encode_jpeg_baseline(
        np.zeros((8, 8), dtype=np.uint8)
    )
    assert decode_jpeg_pixels(None) is None
    assert decode_jpeg_pixels(b"") is None
    assert decode_jpeg_pixels(b"\xff\xd8junk") is None
    assert decode_jpeg_pixels(good[:40]) is None  # truncated mid-segment
    assert decode_jpeg_pixels(M.synth_png(4, 4)) is None  # wrong format
    # header-only synth_jpeg (no scan) stays undecodable, not a crash
    assert decode_jpeg_pixels(M.synth_jpeg(8, 8)) is None
    # progressive marker (SOF2) refused
    bad = bytearray(good)
    idx = bad.find(b"\xff\xc0")
    bad[idx + 1] = 0xC2
    assert decode_jpeg_pixels(bytes(bad)) is None


def test_gif_lzw_roundtrip_and_planted_gradient():
    """The LZW pair is self-consistent across dictionary growth,
    code-size increments and the 4096 reset; GIF is lossless so decode
    recovers planted pixels exactly; corrupt payloads yield None."""
    import numpy as np

    from tfl_realtime_lakehouse_spark.operators import multimodal as M
    from tfl_realtime_lakehouse_spark.operators.gif import (
        _lzw_decode,
        _lzw_encode,
        decode_gif_pixels,
        encode_gif_grayscale,
        synth_gif_gradient,
    )

    rng = np.random.default_rng(3)
    for data in (
        bytes(rng.integers(0, 256, 20000, dtype=np.uint8)),  # growth+reset
        bytes([1, 2, 3, 4] * 5000),  # deep chains
        bytes(50000),  # degenerate all-zero
    ):
        assert bytes(_lzw_decode(_lzw_encode(data, 8), 8, len(data))) == data

    img = rng.integers(0, 256, (37, 53), dtype=np.uint8)
    assert np.array_equal(decode_gif_pixels(encode_gif_grayscale(img)), img)

    g = decode_gif_pixels(synth_gif_gradient(32, 24, 5))
    y, x = np.mgrid[0:24, 0:32]
    assert np.array_equal(g, ((5 + 3 * x + 7 * y) % 256).astype(np.uint8))

    assert decode_gif_pixels(None) is None
    assert decode_gif_pixels(b"GIF89a") is None
    assert decode_gif_pixels(M.synth_gif(8, 8)) is None  # header-only
    assert decode_gif_pixels(M.synth_png(4, 4)) is None


def test_pixel_stats_dispatches_all_three_formats(spark):
    """One assets frame mixing PNG, JPEG and GIF payloads of the same
    planted content: pixel_stats decodes each through its real codec
    and produces identical stats (PNG/GIF exact twins; JPEG is the
    tile-gradient variant, checked against its own arithmetic)."""
    import numpy as np

    from tfl_realtime_lakehouse_spark.operators import multimodal as M
    from tfl_realtime_lakehouse_spark.operators.gif import synth_gif_gradient
    from tfl_realtime_lakehouse_spark.operators.jpeg import (
        synth_jpeg_tile_gradient,
    )

    w, h, base = 32, 24, 17
    assets = spark.createDataFrame(
        [
            (1, bytearray(M.synth_png_gradient(w, h, base))),
            (2, bytearray(synth_gif_gradient(w, h, base))),
            (3, bytearray(synth_jpeg_tile_gradient(w, h, base))),
            (4, bytearray(b"junk")),
        ],
        "asset_id long, payload binary",
    )
    got = {r.asset_id: r for r in M.pixel_stats(assets).collect()}
    y, x = np.mgrid[0:h, 0:w]
    grad_sum = int(((base + 3 * x + 7 * y) % 256).sum())
    assert got[1].px_sum == grad_sum and got[2].px_sum == grad_sum
    ty, tx = np.mgrid[0 : h // 8, 0 : w // 8]
    tile_sum = 64 * int(((base + 11 * tx + 5 * ty) % 256).sum())
    assert got[3].px_sum == tile_sum
    assert got[1].width == got[2].width == got[3].width == w
    assert got[4].px_sum is None  # corrupt isolates, never raises


def test_codec_fuzz_never_raises():
    """Decoder corrupt-isolation contract under fuzz: random bytes,
    truncations and single-byte corruptions of valid payloads must
    return None or a valid array — NEVER raise (a poisoned asset at
    100 TB must not kill the stage)."""
    import numpy as np

    from tfl_realtime_lakehouse_spark.operators import multimodal as M
    from tfl_realtime_lakehouse_spark.operators.gif import (
        decode_gif_pixels,
        encode_gif_grayscale,
    )
    from tfl_realtime_lakehouse_spark.operators.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg_baseline,
    )

    rng = np.random.default_rng(99)
    img = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    valid = {
        "png": M.synth_png_gradient(16, 16, 3),
        "jpeg": encode_jpeg_baseline(img),
        "gif": encode_gif_grayscale(img),
    }
    decoders = (decode_jpeg_pixels, decode_gif_pixels, M.decode_png_pixels,
                M.decode_pixels)
    payloads = []
    for b in valid.values():
        payloads += [b[:k] for k in range(0, len(b), max(1, len(b) // 23))]
        for _ in range(40):  # single-byte corruptions at random offsets
            mb = bytearray(b)
            i = int(rng.integers(0, len(b)))
            mb[i] = int(rng.integers(0, 256))
            payloads.append(bytes(mb))
    for _ in range(60):  # pure noise
        payloads.append(bytes(rng.integers(0, 256, int(rng.integers(0, 400)),
                                           dtype=np.uint8)))
    for p in payloads:
        for dec in decoders:
            out = dec(p)  # must not raise
            assert out is None or getattr(out, "dtype", None) is not None


@cache
def _valid_payloads() -> tuple[bytes, ...]:
    from tfl_realtime_lakehouse_spark.operators.gif import encode_gif_grayscale, synth_gif_gradient
    from tfl_realtime_lakehouse_spark.operators.jpeg import (
        encode_jpeg_baseline,
        synth_jpeg_tile_gradient,
    )

    rng = np.random.default_rng(7)
    gray = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    rgb = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    return (
        M.synth_png_gradient(8, 8, 5),
        M.synth_png(6, 4),
        encode_jpeg_baseline(gray),
        encode_jpeg_baseline(rgb, restart_interval=1, subsample420=True),
        synth_jpeg_tile_gradient(16, 8, 3),
        encode_gif_grayscale(gray),
        synth_gif_gradient(8, 8, 5),
    )


def _decode_all(payload: bytes) -> None:
    """Every decoder returns None or pixels, and the header parser a
    3-tuple, for any payload."""
    from tfl_realtime_lakehouse_spark.operators.gif import decode_gif_pixels
    from tfl_realtime_lakehouse_spark.operators.jpeg import decode_jpeg_pixels

    for decode in (M.decode_png_pixels, decode_jpeg_pixels, decode_gif_pixels):
        out = decode(payload)
        assert out is None or isinstance(out, np.ndarray), decode.__name__
    assert len(M.parse_image_dims(payload)) == 3


_EDITS = st.lists(
    st.tuples(
        st.sampled_from(["set", "cut", "insert", "delete"]),
        st.integers(min_value=0, max_value=1 << 16),
        st.binary(min_size=1, max_size=8),
    ),
    min_size=1,
    max_size=4,
)


@settings(max_examples=400, deadline=None, suppress_health_check=list(HealthCheck))
@given(base=st.integers(min_value=0, max_value=6), edits=_EDITS)
def test_decoders_survive_edited_payloads(base, edits):
    """Valid PNG, JPEG and GIF payloads with bytes overwritten, cut,
    inserted or deleted decode to None or pixels, never an exception."""
    b = bytearray(_valid_payloads()[base])
    for op, at, chunk in edits:
        i = at % (len(b) + 1)
        if op == "set" and b:
            b[i % len(b)] = chunk[0]
        elif op == "cut":
            del b[i:]
        elif op == "insert":
            b[i:i] = chunk
        else:
            del b[i : i + len(chunk)]
    _decode_all(bytes(b))


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    magic=st.sampled_from([b"", b"\x89PNG\r\n\x1a\n", b"\xff\xd8", b"GIF89a", b"GIF87a"]),
    body=st.binary(max_size=512),
)
def test_decoders_survive_random_bodies(magic, body):
    """A format's magic bytes followed by noise decode to None or pixels."""
    _decode_all(magic + body)


def test_decoders_refuse_headers_that_claim_huge_images():
    """A header that claims 65535x65535 pixels over a few bytes of data
    decodes to None at once: the JPEG decoder used to allocate its
    planes first and raise MemoryError."""
    from tfl_realtime_lakehouse_spark.operators.gif import decode_gif_pixels
    from tfl_realtime_lakehouse_spark.operators.jpeg import decode_jpeg_pixels

    png, _, jpeg, _, _, gif, _ = _valid_payloads()
    big = (65535).to_bytes(2, "big")
    j = bytearray(jpeg)
    sof = j.find(b"\xff\xc0")
    j[sof + 5 : sof + 9] = big + big
    assert decode_jpeg_pixels(bytes(j)) is None
    g = bytearray(gif)
    image = 13 + 3 * (2 << (g[10] & 7))  # after the global colour table
    assert g[image] == 0x2C
    g[image + 5 : image + 9] = big[::-1] + big[::-1]
    assert decode_gif_pixels(bytes(g)) is None
    p = bytearray(png)
    p[16:24] = (1 << 31).to_bytes(4, "big") * 2
    assert M.decode_png_pixels(bytes(p)) is None


def test_param_contracted_synth_matches_gradient_params(spark):
    """The JVM (w, h, base) expressions inside _synth_param_assets must
    mirror gradient_params(doc_id) exactly, and every asset's payload
    must equal the directly-encoded payload for its id."""
    from tfl_realtime_lakehouse_spark.operators.multimodal import (
        gradient_params,
        synth_gradient_assets,
        synth_png_gradient,
    )

    ids = list(range(0, 700, 7)) + [1, 2, 3, 129, 255, 1000003]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r.asset_id: bytes(r.payload)
        for r in synth_gradient_assets(docs).collect()
    }
    expect_ids = [i for i in ids if i % 5 == 0]
    assert sorted(got) == sorted(expect_ids)
    for i in expect_ids:
        assert got[i] == synth_png_gradient(*gradient_params(i)), i
