"""Pure-stdlib GIF (87a/89a) codec — closes the LAST multimodal pixel
stub: with `operators/jpeg.py` (round 5) and
`multimodal.py:decode_png_pixels`, all three image container formats
this engine synthesizes now decode FOR REAL with no imaging libraries.

:func:`decode_gif_pixels` parses the logical screen descriptor, global
and local color tables, extension blocks, the first image descriptor
(including interlaced row ordering), and runs a full variable-code-size
LZW decode (clear/EOI codes, dictionary growth to 4096, the
code-size-increment rule) over the concatenated data sub-blocks.
A fully-grayscale palette returns (h, w) uint8; otherwise (h, w, 3)
RGB. ``None`` for non-GIF/corrupt payloads — the decode_png_pixels
contract (a corrupt asset at 100 TB must not kill the stage).

:func:`encode_gif_grayscale` is the matching test-fixture encoder — a
REAL LZW compressor (dictionary build, code-size growth, 4096 reset),
256-entry grayscale palette — used by the planted-gradient oracle
query `multimodal_gif_pixel_stats` and the random-roundtrip property
test. GIF is index-mapped (lossless), so decode recovers the planted
pixels exactly — no DCT tolerance story needed.

Scale posture: correctness-tier codec on the map-only Arrow asset
path, zero shuffle; production plugs Pillow/libvips into the same
`decode_image` seam.
"""

from __future__ import annotations

import struct

import numpy as np


class _LSBReader:
    """LSB-first bit reader (LZW code packing, GIF Appendix F)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int | None:
        while self.nbits < n:
            if self.pos >= len(self.data):
                return None
            self.acc |= self.data[self.pos] << self.nbits
            self.nbits += 8
            self.pos += 1
        v = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nbits -= n
        return v


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytearray | None:
    clear = 1 << min_code_size
    eoi = clear + 1
    r = _LSBReader(data)
    out = bytearray()

    def reset():
        # two placeholder slots keep list index == code value for the
        # entries appended after clear/EOI
        t = [bytes([i]) for i in range(clear)] + [b"", b""]
        return t, eoi + 1, min_code_size + 1

    table, next_code, code_size = reset()
    prev: bytes | None = None
    while len(out) < n_pixels:
        c = r.read(code_size)
        if c is None:
            return None
        if c == clear:
            table, next_code, code_size = reset()
            prev = None
            continue
        if c == eoi:
            break
        if c < len(table) and c not in (clear, eoi):
            entry = table[c]
        elif c == next_code and prev is not None:
            entry = prev + prev[:1]
        else:
            return None
        out += entry
        if prev is not None and next_code < 4096:
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry
    if len(out) < n_pixels:
        return None
    return out[:n_pixels]


def decode_gif_pixels(payload: bytes | None) -> "object":
    """REAL GIF pixel decode of the first frame, no imaging libraries.

    Returns uint8 (h, w) when the resolved palette is fully grayscale,
    else (h, w, 3) RGB; ``None`` for non-GIF or corrupt payloads."""
    b = payload or b""
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    try:
        sw, sh = struct.unpack("<HH", b[6:10])
        packed = b[10]
        pos = 13
        gct = None
        if packed & 0x80:
            n = 2 << (packed & 0x07)
            gct = np.frombuffer(b[pos : pos + 3 * n], dtype=np.uint8)
            if gct.size < 3 * n:
                return None
            gct = gct.reshape(n, 3)
            pos += 3 * n
        while pos < len(b):
            block = b[pos]
            if block == 0x3B:  # trailer before any image
                return None
            if block == 0x21:  # extension: label + sub-blocks
                pos += 2
                while pos < len(b) and b[pos] != 0:
                    pos += 1 + b[pos]
                pos += 1
                continue
            if block != 0x2C:
                return None
            left, top, w, h = struct.unpack("<HHHH", b[pos + 1 : pos + 9])
            ipacked = b[pos + 9]
            pos += 10
            ct = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                ct = np.frombuffer(b[pos : pos + 3 * n], dtype=np.uint8)
                if ct.size < 3 * n:
                    return None
                ct = ct.reshape(n, 3)
                pos += 3 * n
            if ct is None or w == 0 or h == 0:
                return None
            min_code_size = b[pos]
            pos += 1
            if not (2 <= min_code_size <= 11):
                return None
            data = bytearray()
            while pos < len(b) and b[pos] != 0:
                ln = b[pos]
                chunk = b[pos + 1 : pos + 1 + ln]
                if len(chunk) < ln:
                    return None
                data += chunk
                pos += 1 + ln
            idx = _lzw_decode(bytes(data), min_code_size, w * h)
            if idx is None:
                return None
            arr = np.frombuffer(bytes(idx), dtype=np.uint8)
            if int(arr.max()) >= len(ct):
                return None
            grid = arr.reshape(h, w)
            if ipacked & 0x40:  # interlaced: 4-pass row order
                de = np.empty_like(grid)
                order = (
                    list(range(0, h, 8))
                    + list(range(4, h, 8))
                    + list(range(2, h, 4))
                    + list(range(1, h, 2))
                )
                de[order] = grid
                grid = de
            rgb = ct[grid]
            if bool((ct[:, 0] == ct[:, 1]).all() and (ct[:, 1] == ct[:, 2]).all()):
                return rgb[:, :, 0].copy()
            return rgb
        return None
    except (IndexError, struct.error):  # a block cut off inside its header
        return None


def _lzw_encode(data: bytes, min_code_size: int) -> bytes:
    """REAL LZW compress (GIF flavor): dictionary growth with the
    code-size-increment rule, clear-code reset at 4096 entries."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, size: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh():
        return {bytes([i]): i for i in range(clear)}, eoi + 1, min_code_size + 1

    table, next_code, code_size = fresh()
    emit(clear, code_size)
    buf = b""
    for ch in data:
        cand = buf + bytes([ch])
        if cand in table:
            buf = cand
            continue
        emit(table[buf], code_size)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            # One entry LATER than the decoder's (1 << cs) rule: the
            # decoder's dictionary lags the encoder's by exactly one
            # entry at read time, so the stream stays in sync only if
            # the encoder widens one add later.
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        else:
            emit(clear, code_size)
            table, next_code, code_size = fresh()
        buf = bytes([ch])
    if buf:
        emit(table[buf], code_size)
    emit(eoi, code_size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif_grayscale(pixels: "object") -> bytes:
    """Fully-valid non-interlaced GIF89a with a 256-entry grayscale
    global palette whose indices ARE the pixel values — GIF is
    index-mapped and lossless, so decode recovers the input exactly."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | 0x07, 0, 0])  # GCT present, 256 entries
    for i in range(256):
        out += bytes([i, i, i])
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    out += bytes([8])  # LZW min code size
    data = _lzw_encode(px.tobytes(), 8)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def synth_gif_gradient(width: int, height: int, base: int) -> bytes:
    """GIF whose pixels follow the SAME planted gradient as the PNG
    fixture — pixel(x, y) = (base + 3x + 7y) mod 256 — so the PNG
    oracle arithmetic hash-checks the LZW decode path verbatim."""
    y, x = np.mgrid[0:height, 0:width]
    return encode_gif_grayscale(((base + 3 * x + 7 * y) % 256).astype(np.uint8))
