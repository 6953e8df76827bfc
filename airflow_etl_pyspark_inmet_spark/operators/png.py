"""Minimal real PNG codec (pure stdlib zlib/struct + numpy).

PNG is simple enough to implement from the public spec (RFC 2083):
chunks are (length, type, data, crc); pixels live in IDAT as
zlib-compressed scanlines, each prefixed with a filter byte (0=None
1=Sub 2=Up 3=Average 4=Paeth). This module supports the
common web subset — 8-bit depth, color types 0 (gray), 2 (RGB), 4
(gray+alpha), 6 (RGBA), no interlacing — which is exactly what a
training-data image pipeline normalizes to anyway.

This is the multimodal operators' one PNG codec: decode -> numpy array
-> resize -> encode, all deterministic, and the ground truth for the
unit tests.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# color type -> samples per pixel
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def is_png(data: bytes) -> bool:
    return data[:8] == PNG_MAGIC


def png_header(data: bytes) -> tuple[int, int, int, int]:
    """(width, height, bit_depth, color_type) from IHDR — header-only
    parse, O(1) regardless of payload size (metadata extraction never
    needs the pixel data)."""
    if not is_png(data) or len(data) < 33 or data[12:16] != b"IHDR":
        raise ValueError("not a PNG")
    w, h, depth, ctype = struct.unpack(">IIBB", data[16:26])
    return w, h, depth, ctype


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_decode(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 array of shape (h, w) for grayscale or
    (h, w, channels) otherwise. Supports bit depth 8, color types
    0/2/4/6, non-interlaced (the normalized-training-corpus subset)."""
    w, h, depth, ctype = png_header(data)
    if depth != 8 or ctype not in _CHANNELS:
        raise ValueError(f"unsupported PNG (depth={depth}, color={ctype})")
    nch = _CHANNELS[ctype]

    idat = bytearray()
    pos = 8
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        typ = data[pos + 4 : pos + 8]
        if typ == b"IDAT":
            idat += data[pos + 8 : pos + 8 + length]
        elif typ == b"IHDR" and pos != 8:
            raise ValueError("misplaced IHDR")
        elif typ == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc

    raw = zlib.decompress(bytes(idat))
    stride = w * nch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline data has wrong length")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters = rows[:, 0]
    img = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        line = rows[y, 1:].copy()
        f = filters[y]
        if f == 0:
            pass
        elif f == 1:  # Sub: add left (per channel)
            for x in range(nch, stride):
                line[x] = (int(line[x]) + int(line[x - nch])) & 0xFF
        elif f == 2:  # Up
            line = (line.astype(np.int16) + prior).astype(np.uint8)
        elif f == 3:  # Average
            for x in range(stride):
                left = int(line[x - nch]) if x >= nch else 0
                line[x] = (int(line[x]) + ((left + int(prior[x])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                a = int(line[x - nch]) if x >= nch else 0
                c = int(prior[x - nch]) if x >= nch else 0
                b = int(prior[x])
                line[x] = (int(line[x]) + _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {f}")
        img[y] = line
        prior = img[y]
    out = img.reshape(h, w, nch)
    return out[:, :, 0] if nch == 1 else out


def png_encode(arr: np.ndarray, compress_level: int = 6) -> bytes:
    """uint8 array (h, w) or (h, w, {1,2,3,4}) -> PNG bytes (filter 0 on
    every scanline — simplicity over ratio; payloads here are features,
    not archives)."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, nch = a.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[nch]

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    scan = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), a.reshape(h, w * nch)], axis=1
    )
    idat = zlib.compress(scan.tobytes(), compress_level)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def resize_nearest(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize via pure index math (the deterministic,
    engine-independent choice: no resampling-kernel ambiguity, so the
    oracle can reproduce it exactly). Matches the standard pixel-center
    mapping src = floor((dst + 0.5) * scale)."""
    h, w = arr.shape[:2]
    ys = np.minimum(((np.arange(out_h) + 0.5) * h / out_h).astype(np.int64), h - 1)
    xs = np.minimum(((np.arange(out_w) + 0.5) * w / out_w).astype(np.int64), w - 1)
    return arr[ys][:, xs]
