"""Image payload kernels: decode / phash / PSNR as numpy batch functions.

The input contract (BASELINE.json ``input_hint``) is an image+caption
table ``(image_id, bytes, w, h, fmt, caption, phash)`` with per-row
invariants: decoded-pixel allclose (PSNR >= 40 dB for lossy) and caption
equality. This container ships no image libraries (PIL/libjpeg absent),
so the codecs are:

* ``png``  — a real, self-contained PNG encoder/decoder (zlib + struct,
  8-bit RGB, filter types 0/1/2 supported on decode, filter 0 on
  encode). Lossless: decode(encode(x)) == x exactly.
* ``qimg`` — a deterministic lossy stand-in for JPEG (6-bit/channel
  quantization + zlib). Real quantization loss, PSNR ~46 dB — exercises
  the lossy-path invariant for real.
* ``jpeg`` — STUB: raises NotImplementedError with a clear message. The
  Spark-side plumbing (binary column -> Arrow batch -> decode ->
  features) is identical for a real libjpeg build; only this function
  body changes.

All functions operate on single images (small, fixed size) and are
called from ``mapInPandas`` batches — the per-batch loop stays in
Python but each call is a handful of numpy/zlib ops over the whole
pixel buffer, no per-pixel Python.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_QIMG_MAGIC = b"QIM1"
_QIMG_BITS = 6  # quantization depth of the lossy stand-in codec


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """8-bit RGB (h, w, 3) -> PNG bytes (filter 0 rows, zlib level 6)."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit truecolor
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = 0  # filter type 0 per row
    raw[:, 1:] = pixels.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), 6)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def decode_png(buf: bytes) -> np.ndarray:
    """PNG bytes -> (h, w, 3) uint8. Supports 8-bit RGB, filters 0/1/2."""
    if buf[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    off = 8
    w = h = None
    idat = b""
    while off < len(buf):
        (length,) = struct.unpack_from(">I", buf, off)
        tag = buf[off + 4: off + 8]
        payload = buf[off + 8: off + 8 + length]
        off += 12 + length
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _comp, _filt, interlace = \
                struct.unpack_from(">IIBBBBB", payload)
            if bit_depth != 8 or color_type != 2:
                raise ValueError("decoder supports 8-bit RGB only")
            if interlace != 0:
                # Adam7 passes have a different IDAT layout — without
                # this check a standards-compliant interlaced PNG dies
                # in an opaque reshape error (or decodes to garbage)
                raise ValueError(
                    "decoder supports non-interlaced PNG only "
                    "(Adam7 interlace unsupported)")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    stride = 1 + w * 3
    raw = raw.reshape(h, stride)
    out = np.zeros((h, w * 3), dtype=np.uint8)
    for r in range(h):
        ftype = raw[r, 0]
        row = raw[r, 1:].astype(np.int32)
        if ftype == 0:
            rec = row
        elif ftype == 1:  # Sub
            rec = row.copy()
            for i in range(3, len(rec)):
                rec[i] = (rec[i] + rec[i - 3]) & 0xFF
        elif ftype == 2:  # Up
            prior = out[r - 1].astype(np.int32) if r > 0 else 0
            rec = (row + prior) & 0xFF
        else:
            raise ValueError(f"unsupported PNG filter {ftype}")
        out[r] = rec.astype(np.uint8)
    return out.reshape(h, w, 3)


def encode_qimg(pixels: np.ndarray) -> bytes:
    """Deterministic lossy codec: quantize to 6 bits/channel + zlib."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    q = (pixels >> (8 - _QIMG_BITS)).astype(np.uint8)
    return (
        _QIMG_MAGIC
        + struct.pack("<HH", w, h)
        + zlib.compress(q.tobytes(), 6)
    )


def decode_qimg(buf: bytes) -> np.ndarray:
    if buf[:4] != _QIMG_MAGIC:
        raise ValueError("not a QIM1 payload")
    w, h = struct.unpack_from("<HH", buf, 4)
    q = np.frombuffer(zlib.decompress(buf[8:]), dtype=np.uint8).reshape(h, w, 3)
    # dequantize to bin centers
    shift = 8 - _QIMG_BITS
    return ((q.astype(np.uint16) << shift) + (1 << (shift - 1))).clip(0, 255).astype(
        np.uint8
    )


def decode_image(buf: bytes, fmt: str) -> np.ndarray:
    """Dispatch decode by the table's ``fmt`` column."""
    if fmt == "png":
        return decode_png(buf)
    if fmt == "qimg":
        return decode_qimg(buf)
    if fmt in ("jpeg", "jpg"):
        raise NotImplementedError(
            "real JPEG decode requires libjpeg/PIL which this container lacks; "
            "the 'qimg' codec is the deterministic lossy stand-in. Swap this "
            "branch for PIL.Image.open when the dependency is available."
        )
    raise ValueError(f"unknown image fmt {fmt!r}")


# --------------------------------------------------------------------------
# Features
# --------------------------------------------------------------------------

def to_gray(pixels: np.ndarray) -> np.ndarray:
    p = pixels.astype(np.float64)
    return 0.299 * p[..., 0] + 0.587 * p[..., 1] + 0.114 * p[..., 2]


def _downsample_8x8(gray: np.ndarray) -> np.ndarray:
    """Block-mean downsample to an 8x8 grid (pure numpy, any input size)."""
    h, w = gray.shape
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    out = np.empty((8, 8), dtype=np.float64)
    for i in range(8):
        for j in range(8):
            out[i, j] = gray[ys[i]: max(ys[i + 1], ys[i] + 1),
                             xs[j]: max(xs[j + 1], xs[j] + 1)].mean()
    return out


def phash64(pixels: np.ndarray) -> int:
    """Average-hash: 8x8 grayscale downsample, bit i set iff cell > mean.

    Returned as a signed int64 (parquet/Spark LongType).
    """
    grid = _downsample_8x8(to_gray(pixels))
    bits = (grid > grid.mean()).flatten()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical images."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


def synth_pixels(seed: int, w: int, h: int) -> np.ndarray:
    """Deterministic synthetic image content keyed by ``seed``.

    A smooth gradient + seeded sinusoid mix — compressible, non-constant,
    distinct per seed (so phash varies across rows).
    """
    rng = np.random.default_rng(seed)
    a, b, c = rng.uniform(0.5, 3.0, 3)
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    base = (
        np.sin(a * xx / w * 2 * np.pi)
        + np.cos(b * yy / h * 2 * np.pi)
        + np.sin(c * (xx + yy) / (w + h) * 2 * np.pi)
    )
    r = ((base - base.min()) / (base.ptp() + 1e-9) * 255).astype(np.uint8)
    # gradient channels with seed-dependent orientation so the luma
    # hash isn't dominated by one fixed direction across all images
    gx = xx if rng.random() < 0.5 else (w - 1 - xx)
    gy = yy if rng.random() < 0.5 else (h - 1 - yy)
    g = ((gx / max(w - 1, 1)) * 255).astype(np.uint8)
    bch = ((gy / max(h - 1, 1)) * 255).astype(np.uint8)
    px = np.stack([r, g, bch], axis=-1).astype(np.int16)
    # seeded per-pixel texture: without it every smooth gradient shares
    # near-identical average-hash bits and phash near-dup joins degrade
    # to all-pairs (real photos have texture; the synth must too)
    noise = rng.integers(-40, 41, px.shape, dtype=np.int16)
    return np.clip(px + noise, 0, 255).astype(np.uint8)
