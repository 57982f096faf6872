"""Pure-stdlib baseline-sequential JPEG codec (ITU-T T.81).

Closes the one remaining feasible multimodal stub (the container has no
imaging libraries): :func:`decode_jpeg_pixels` is a REAL decoder —
marker walk, DQT/DHT/SOF0/SOS/DRI parsing, canonical Huffman entropy
decode with byte-stuffing and restart markers, dequantize + dezigzag,
float64 matrix IDCT, nearest-neighbour chroma upsampling and JFIF
YCbCr→RGB — no imaging libraries, same discipline as the PNG decoder
(`multimodal.py:decode_png_pixels`). :func:`encode_jpeg_baseline` is
the matching test-fixture encoder (4:4:4 / grayscale, all-ones quant
tables, generated fixed-length Huffman tables — any DHT a decoder must
accept), used by the planted-fixture oracle query
`multimodal_jpeg_pixel_stats` and the encode→decode property tests.

Scale posture: this is the CORRECTNESS tier of the codec seam — a
per-asset, map-only Arrow path with zero shuffle, exercised over
bounded synthetic fixtures. Production deployments plug libjpeg-turbo /
Pillow into the same `decode_image` seam; the Spark-side plumbing
(binary column in, stats/fingerprints out) is identical and is what
this module makes testable end-to-end.

Flat 8×8 tiles survive the DCT→quantize(1)→IDCT chain EXACTLY (a flat
block is DC-only; 8·a is exactly representable and the IDCT returns a
uniformly, ±1e-13 before the final round), which is what makes the
planted tile-gradient oracle hash-exact rather than tolerance-based.

Reference behavior parity: the reference repo has no image codec at
all (its computational core is DuckDB SQL over arrival events); this
module serves SURVEY §2's multimodal extension family.
"""

from __future__ import annotations

import struct

import numpy as np

# Zigzag scan order (T.81 Figure 5): index k in scan order -> (row, col).
_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Orthonormal 8-point DCT-II matrix: T[u, x] = c(u)/2 * cos((2x+1)uπ/16),
# c(0)=1/√2 else 1. spatial = T.T @ coef @ T ; coef = T @ spatial @ T.T.
_DCT_T = np.array(
    [
        [
            (np.sqrt(0.5) if u == 0 else 1.0)
            * 0.5
            * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ],
    dtype=np.float64,
)


def _build_huffman(counts: list[int], symbols: list[int]) -> dict:
    """Canonical Huffman: (length, code) -> symbol, per T.81 C.2."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    byte-stuffing; stops at any real marker (restart handled by caller)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0

    def _next_byte(self) -> int | None:
        d = self.data
        while self.pos < len(d):
            b = d[self.pos]
            if b != 0xFF:
                self.pos += 1
                return b
            if self.pos + 1 >= len(d):
                return None
            nxt = d[self.pos + 1]
            if nxt == 0x00:  # stuffed
                self.pos += 2
                return 0xFF
            return None  # real marker: caller inspects self.pos
        return None

    def read_bit(self) -> int | None:
        if self.nbits == 0:
            b = self._next_byte()
            if b is None:
                return None
            self.bits = b
            self.nbits = 8
        self.nbits -= 1
        return (self.bits >> self.nbits) & 1

    def receive(self, n: int) -> int | None:
        v = 0
        for _ in range(n):
            bit = self.read_bit()
            if bit is None:
                return None
            v = (v << 1) | bit
        return v

    def align(self) -> None:
        self.nbits = 0

    def at_marker(self) -> int | None:
        """The marker byte if positioned at FF xx (xx != 0), else None."""
        d = self.data
        if self.pos + 1 < len(d) and d[self.pos] == 0xFF and d[self.pos + 1] != 0:
            return d[self.pos + 1]
        return None


def _decode_huff(r: _BitReader, table: dict) -> int | None:
    code, length = 0, 0
    while length < 16:
        bit = r.read_bit()
        if bit is None:
            return None
        code = (code << 1) | bit
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    return None


def _extend(v: int, t: int) -> int:
    return v - (1 << t) + 1 if v < (1 << (t - 1)) else v


def decode_jpeg_pixels(payload: bytes | None) -> "object":
    """REAL baseline-sequential JPEG decode, no imaging libraries.

    Supports SOF0 (baseline DCT, 8-bit), grayscale and 3-component
    YCbCr at any sampling factors (4:4:4 / 4:2:2 / 4:2:0 via
    nearest-neighbour upsample), restart intervals, multi-table
    DQT/DHT segments. Returns uint8 (h, w) for grayscale or (h, w, 3)
    RGB; ``None`` for non-JPEG input, progressive/arithmetic/12-bit
    variants, or corrupt payloads — at 100 TB a corrupt asset must not
    kill the stage (the decode_png_pixels contract)."""
    b = payload or b""
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    try:
        qt: dict[int, np.ndarray] = {}
        huff: dict[tuple[int, int], dict] = {}  # (class, id) -> table
        frame = None  # (h, w, comps) comps: list[(cid, hsamp, vsamp, tq)]
        restart = 0
        pos = 2
        while pos + 4 <= len(b):
            if b[pos] != 0xFF:
                return None
            marker = b[pos + 1]
            if marker == 0xFF:  # fill byte padding before a marker
                pos += 1
                continue
            if marker == 0xD8:
                pos += 2
                continue
            if 0xD0 <= marker <= 0xD7 or marker == 0x01:  # RSTn/TEM: no length
                pos += 2
                continue
            if marker == 0xD9:  # EOI before any scan
                return None
            (seglen,) = struct.unpack(">H", b[pos + 2 : pos + 4])
            seg = b[pos + 4 : pos + 2 + seglen]
            if len(seg) != seglen - 2:
                return None
            if marker == 0xDB:  # DQT
                i = 0
                while i < len(seg):
                    pq, tq = seg[i] >> 4, seg[i] & 15
                    if pq != 0:  # 16-bit tables: not baseline-8
                        return None
                    vals = seg[i + 1 : i + 65]
                    if len(vals) < 64:
                        return None
                    qt[tq] = np.frombuffer(vals, dtype=np.uint8).astype(
                        np.float64
                    )
                    i += 65
            elif marker == 0xC4:  # DHT
                i = 0
                while i + 17 <= len(seg):
                    tc, th = seg[i] >> 4, seg[i] & 15
                    counts = list(seg[i + 1 : i + 17])
                    n = sum(counts)
                    symbols = list(seg[i + 17 : i + 17 + n])
                    if len(symbols) < n:
                        return None
                    huff[(tc, th)] = _build_huffman(counts, symbols)
                    i += 17 + n
            elif marker == 0xC0:  # SOF0 baseline
                prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
                if prec != 8 or nc not in (1, 3) or h == 0 or w == 0:
                    return None
                comps = []
                for c in range(nc):
                    cid = seg[6 + c * 3]
                    hv = seg[7 + c * 3]
                    comps.append((cid, hv >> 4, hv & 15, seg[8 + c * 3]))
                frame = (h, w, comps)
            elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                            0xCB, 0xCD, 0xCE, 0xCF):
                return None  # non-baseline frame types
            elif marker == 0xDD:  # DRI
                (restart,) = struct.unpack(">H", seg[:2])
            elif marker == 0xDA:  # SOS — entropy data follows
                ns = seg[0]
                scan = []  # (comp_index, dc_table, ac_table)
                if frame is None:
                    return None
                h, w, comps = frame
                cid_index = {c[0]: i for i, c in enumerate(comps)}
                for s in range(ns):
                    cs, tda = seg[1 + s * 2], seg[2 + s * 2]
                    if cs not in cid_index:
                        return None
                    scan.append((cid_index[cs], tda >> 4, tda & 15))
                if ns != len(comps):  # multi-scan: not baseline-interleaved
                    return None
                data_pos = pos + 2 + seglen
                return _decode_scan(
                    b, data_pos, frame, scan, qt, huff, restart
                )
            # APPn / COM / others: skip
            pos += 2 + seglen
        return None
    except (IndexError, struct.error):  # a segment shorter than its fields
        return None


def _decode_scan(b, data_pos, frame, scan, qt, huff, restart):
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax == 0 or vmax == 0:
        return None
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    # Every block takes at least 2 bits (a DC code and an EOB), so a header
    # that claims more blocks than the data can hold is corrupt; without
    # this check a 65535x65535 header allocates 32 GiB per plane.
    blocks = mcus_x * mcus_y * sum(hs * vs for _, hs, vs, _ in comps)
    if 2 * blocks > 8 * (len(b) - data_pos):
        return None
    planes = []
    for cid, hs, vs, tq in comps:
        if hs == 0 or vs == 0 or tq not in qt:
            return None
        planes.append(
            np.zeros((mcus_y * vs * 8, mcus_x * hs * 8), dtype=np.float64)
        )
    r = _BitReader(b, data_pos)
    preds = [0] * len(comps)
    tT = _DCT_T
    rst_expected = 0xD0
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart and mcu_count and mcu_count % restart == 0:
                r.align()
                m = r.at_marker()
                if m is None or not (0xD0 <= m <= 0xD7) or m != rst_expected:
                    return None
                r.pos += 2
                rst_expected = 0xD0 + ((rst_expected - 0xD0 + 1) & 7)
                preds = [0] * len(comps)
            for ci, dc_id, ac_id in scan:
                cid, hs, vs, tq = comps[ci]
                dc_t = huff.get((0, dc_id))
                ac_t = huff.get((1, ac_id))
                q = qt[tq]
                if dc_t is None or ac_t is None:
                    return None
                for by in range(vs):
                    for bx in range(hs):
                        zz = np.zeros(64, dtype=np.float64)
                        t = _decode_huff(r, dc_t)
                        if t is None or t > 15:
                            return None
                        diff = 0
                        if t:
                            v = r.receive(t)
                            if v is None:
                                return None
                            diff = _extend(v, t)
                        preds[ci] += diff
                        zz[0] = preds[ci] * q[0]
                        k = 1
                        while k < 64:
                            rs = _decode_huff(r, ac_t)
                            if rs is None:
                                return None
                            rr, ss = rs >> 4, rs & 15
                            if ss == 0:
                                if rr == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += rr
                            if k > 63:
                                return None
                            v = r.receive(ss)
                            if v is None:
                                return None
                            zz[k] = _extend(v, ss) * q[k]
                            k += 1
                        blk = np.zeros((8, 8), dtype=np.float64)
                        blk.flat[_ZIGZAG] = zz
                        px = tT.T @ blk @ tT
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = px
            mcu_count += 1
    out_planes = []
    for (cid, hs, vs, tq), plane in zip(comps, planes):
        if hs != hmax or vs != vmax:
            plane = np.repeat(
                np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1
            )
        out_planes.append(plane[:h, :w])
    if len(out_planes) == 1:
        g = np.clip(np.round(out_planes[0] + 128.0), 0, 255)
        return g.astype(np.uint8)
    y, cb, cr = out_planes
    # planes hold level-shift-centered values: Y needs +128; Cb/Cr as
    # stored already equal (Cb − 128)/(Cr − 128), the color-transform
    # operands
    y = y + 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Test-fixture encoder (baseline, 4:4:4 / grayscale, quant = all ones)

# Generated fixed-length Huffman tables (NOT the T.81 Annex K typicals):
# DC symbols 0..11 all at 4 bits, AC symbols all at 9 bits — canonical,
# prefix-complete, and well under the all-ones code, so any conforming
# decoder (including ours) accepts them. Fixed lengths keep the encoder
# ~20 LoC and make encoded sizes deterministic.
_ENC_DC_COUNTS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_ENC_DC_SYMBOLS = list(range(12))
_ENC_AC_SYMBOLS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_ENC_AC_COUNTS = [0] * 16
_ENC_AC_COUNTS[8] = len(_ENC_AC_SYMBOLS)  # all 9-bit


def _enc_codes(counts, symbols):
    code, k, out = 0, 0, {}
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[symbols[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return out


_ENC_DC = _enc_codes(_ENC_DC_COUNTS, _ENC_DC_SYMBOLS)
_ENC_AC = _enc_codes(_ENC_AC_COUNTS, _ENC_AC_SYMBOLS)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc, self.n = 0, 0

    def flush(self) -> None:
        while self.n:
            self.write(1, 1)  # pad with 1s per convention


def _cat_bits(v: int) -> tuple[int, int]:
    """(category, raw bits) for a DC diff / AC coefficient value."""
    t = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << t) - 1
    return t, bits


def _encode_block(wtr: _BitWriter, blk, pred: int) -> int:
    """FDCT + quantize(1) + Huffman-encode one 8×8 block; returns the
    new DC predictor."""
    coef = _DCT_T @ blk @ _DCT_T.T
    zz = np.round(coef.flat[_ZIGZAG]).astype(np.int64)
    diff = int(zz[0]) - pred
    t, bits = _cat_bits(diff)
    ln, code = _ENC_DC[t]
    wtr.write(code, ln)
    if t:
        wtr.write(bits, t)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            ln, code = _ENC_AC[0xF0]  # ZRL
            wtr.write(code, ln)
            run -= 16
        t, bits = _cat_bits(int(zz[k]))
        ln, code = _ENC_AC[(run << 4) | t]
        wtr.write(code, ln)
        wtr.write(bits, t)
        run = 0
    if last_nz < 63:
        ln, code = _ENC_AC[0x00]  # EOB
        wtr.write(code, ln)
    return int(zz[0])


def encode_jpeg_baseline(
    pixels: "object",
    restart_interval: int = 0,
    subsample420: bool = False,
) -> bytes:
    """Baseline JPEG encoder for test fixtures: grayscale (h, w) or RGB
    (h, w, 3) uint8, all-ones quant tables (quantize = round(DCT)),
    generated fixed-length Huffman tables. 4:4:4 by default;
    ``subsample420=True`` (RGB only, dims multiple of 16) emits 2×2-
    subsampled chroma (box mean) so the decoder's upsample/interleave
    path is exercised. ``restart_interval`` N emits DRI + RSTn every N
    MCUs. Dimensions must be multiples of 8 (16 for 4:2:0) — fixture
    discipline, no edge-block padding."""
    px = np.asarray(pixels)
    gray = px.ndim == 2
    h, w = px.shape[:2]
    if subsample420 and (gray or h % 16 or w % 16):
        raise ValueError("4:2:0 fixtures need RGB with multiple-of-16 dims")
    if h % 8 or w % 8:
        raise ValueError("fixture encoder requires multiple-of-8 dims")
    if gray:
        planes = [px.astype(np.float64) - 128.0]
    else:
        r, g, bl = (px[..., i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * bl
        cb = -0.168736 * r - 0.331264 * g + 0.5 * bl + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * bl + 128.0
        planes = [
            np.round(p).clip(0, 255) - 128.0 for p in (y, cb, cr)
        ]
        if subsample420:
            planes = [planes[0]] + [
                p.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3)).round()
                for p in planes[1:]
            ]
    ncomp = len(planes)
    samp = [(2, 2), (1, 1), (1, 1)] if subsample420 else [(1, 1)] * ncomp

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, payload: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(payload) + 2))
        out.extend(payload)

    seg(0xDB, b"\x00" + bytes([1] * 64))  # DQT id 0, all ones
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for c in range(ncomp):
        hs, vs = samp[c]
        sof += bytes([c + 1, (hs << 4) | vs, 0])
    seg(0xC0, sof)
    seg(0xC4, bytes([0x00] + _ENC_DC_COUNTS + _ENC_DC_SYMBOLS))
    seg(0xC4, bytes([0x10] + _ENC_AC_COUNTS + _ENC_AC_SYMBOLS))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for c in range(ncomp):
        sos += bytes([c + 1, 0x00])  # DC table 0, AC table 0
    sos += bytes([0, 63, 0])
    seg(0xDA, sos)

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x, mcus_y = w // (8 * hmax), h // (8 * vmax)
    wtr = _BitWriter()
    preds = [0] * ncomp
    rst = 0xD0
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                wtr.flush()
                out.extend(wtr.out)
                out.extend(bytes([0xFF, rst]))
                rst = 0xD0 + ((rst - 0xD0 + 1) & 7)
                wtr = _BitWriter()
                preds = [0] * ncomp
            for ci, plane in enumerate(planes):
                hs, vs = samp[ci]
                for by in range(vs):
                    for bx in range(hs):
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        blk = plane[y0 : y0 + 8, x0 : x0 + 8]
                        preds[ci] = _encode_block(wtr, blk, preds[ci])
            mcu_count += 1
    wtr.flush()
    out.extend(wtr.out)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)


def synth_jpeg_tile_gradient(width: int, height: int, base: int) -> bytes:
    """Fully-valid grayscale JPEG whose 8×8 TILES follow the planted
    gradient tile(tx, ty) = (base + 11·tx + 5·ty) mod 256 — flat tiles
    are DC-only blocks, so the encode→decode chain recovers the planted
    values EXACTLY and a SQL oracle can hash-check the real Huffman +
    IDCT decode path (the JPEG analogue of synth_png_gradient)."""
    ty, tx = np.mgrid[0 : height // 8, 0 : width // 8]
    tiles = ((base + 11 * tx + 5 * ty) % 256).astype(np.uint8)
    img = np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1)
    return encode_jpeg_baseline(img)
