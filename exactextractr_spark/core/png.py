"""Minimal lossless PNG codec (stdlib zlib only; PIL is unavailable here).

Raster tiles travel as PNG bytes in the image table's ``bytes`` column
(BASELINE.json input_hint). We encode float64 pixel blocks losslessly by
packing each 8-byte float into 8 grayscale samples (bit depth 8, color
type 0), so decode is bit-exact (PSNR = infinity, satisfying the
PSNR >= 40 dB invariant). Integer rasters additionally support native
16-bit grayscale.

This is a standards-compliant PNG: any external reader sees a valid
grayscale image whose width is 8x the logical tile width.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_gray(raw: np.ndarray, bit_depth: int = 8) -> bytes:
    """Encode a 2-D uint8/uint16 array as grayscale PNG (filter 0 rows)."""
    h, w = raw.shape
    if bit_depth == 8:
        body = raw.astype(">u1")
    elif bit_depth == 16:
        body = raw.astype(">u2")
    else:
        raise ValueError("bit_depth must be 8 or 16")
    bpr = w * (bit_depth // 8)
    # prepend the filter-0 byte per row vectorized
    scan = np.empty((h, bpr + 1), dtype=np.uint8)
    scan[:, 0] = 0
    scan[:, 1:] = body.view(np.uint8).reshape(h, bpr)
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, 0, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(scan.tobytes(), 1))
        + _chunk(b"IEND", b"")
    )


def decode_gray(data: bytes) -> np.ndarray:
    """Decode grayscale PNG (filter types 0-4 supported) to uint8/uint16."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = bit_depth = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bit_depth, color, comp, filt, ilace = struct.unpack(">IIBBBBB", payload)
            if color != 0 or ilace != 0:
                raise ValueError("only non-interlaced grayscale supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    raw = zlib.decompress(bytes(idat))
    bpp = bit_depth // 8
    bpr = w * bpp
    # fast path: all rows filter 0 (how encode_gray writes) — pure reshape
    flat = np.frombuffer(raw, dtype=np.uint8)
    if len(flat) == h * (bpr + 1):
        mat = flat.reshape(h, bpr + 1)
        if h == 0 or not mat[:, 0].any():
            out = np.ascontiguousarray(mat[:, 1:])
            if bit_depth == 16:
                return (
                    out.reshape(h, w, 2).astype(np.uint16)[:, :, 0] * 256
                    + out.reshape(h, w, 2)[:, :, 1]
                )
            return out
    out = np.empty((h, bpr), dtype=np.uint8)
    prev = np.zeros(bpr, dtype=np.uint8)
    for r in range(h):
        ft = raw[r * (bpr + 1)]
        line = np.frombuffer(raw, dtype=np.uint8, count=bpr, offset=r * (bpr + 1) + 1).copy()
        if ft == 0:
            pass
        elif ft == 2:  # Up
            line = (line.astype(np.int32) + prev) % 256
            line = line.astype(np.uint8)
        elif ft in (1, 3, 4):  # Sub / Average / Paeth need sequential scan
            dec = np.zeros(bpr, dtype=np.int32)
            for i in range(bpr):
                a = dec[i - bpp] if i >= bpp else 0
                b = int(prev[i])
                if ft == 1:
                    dec[i] = (int(line[i]) + a) % 256
                elif ft == 3:
                    dec[i] = (int(line[i]) + (a + b) // 2) % 256
                else:
                    c = int(prev[i - bpp]) if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    dec[i] = (int(line[i]) + pred) % 256
            line = dec.astype(np.uint8)
        else:
            raise ValueError(f"bad filter {ft}")
        out[r] = line
        prev = out[r]
    if bit_depth == 16:
        return out.reshape(h, w, 2).astype(np.uint16)[:, :, 0] * 256 + out.reshape(
            h, w, 2
        )[:, :, 1]
    return out


# --- float64 tile packing ---------------------------------------------------

def encode_tile(px: np.ndarray) -> bytes:
    """Losslessly encode a 2-D float64 pixel block (NaN = NODATA allowed)."""
    arr = np.ascontiguousarray(px, dtype="<f8")
    h, w = arr.shape
    raw = arr.view(np.uint8).reshape(h, w * 8)
    return encode_gray(raw, bit_depth=8)


def decode_tile(data: bytes, w: int, h: int) -> np.ndarray:
    """Inverse of :func:`encode_tile`; returns (h, w) float64."""
    raw = decode_gray(data)
    if raw.shape != (h, w * 8):
        raise ValueError(f"tile shape mismatch: png {raw.shape} vs meta {(h, w)}")
    # decode_gray returns a fresh array: view it, do not copy it again
    return np.ascontiguousarray(raw).view("<f8").reshape(h, w).astype(np.float64, copy=False)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for bit-exact decode."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    mask = ~(np.isnan(a) | np.isnan(b))
    if not mask.any():
        return float("inf")
    mse = float(np.mean((a[mask] - b[mask]) ** 2))
    if mse == 0:
        return float("inf")
    peak = float(np.nanmax(np.abs(a))) or 1.0
    return 10.0 * np.log10(peak * peak / mse)


def phash64(px: np.ndarray) -> int:
    """Deterministic 64-bit perceptual hash: 8x8 block-mean, threshold at
    median. Used for the tile table's ``phash`` column."""
    a = np.nan_to_num(np.asarray(px, dtype=np.float64), nan=0.0)
    h, w = a.shape
    # pad to multiples of 8 then block-mean to 8x8
    ph, pw = (-h) % 8, (-w) % 8
    if ph or pw:
        a = np.pad(a, ((0, ph), (0, pw)), mode="edge")
    bh, bw = a.shape[0] // 8, a.shape[1] // 8
    blocks = a.reshape(8, bh, 8, bw).mean(axis=(1, 3))
    med = np.median(blocks)
    bits = (blocks > med).flatten()
    val = 0
    for i, b in enumerate(bits):
        if b:
            val |= 1 << i
    # keep within signed int64 for the parquet column
    if val >= 1 << 63:
        val -= 1 << 64
    return int(val)
