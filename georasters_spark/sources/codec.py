"""Tile byte codecs — pure numpy + stdlib, Arrow-batch friendly.

Formats (``fmt`` column):
  * ``raw16``   — little-endian int16, row-major, h*w*2 bytes. Lossless.
  * ``rawi32``  — little-endian int32, row-major. Lossless (u2/i4 tiles).
  * ``rawf32``  — little-endian float32, row-major. Lossless.
  * ``rawf64``  — little-endian float64, row-major. Lossless (u4 and
                  doubles: every uint32 is exact in f8).
  * ``png``     — 16-bit grayscale PNG through ``sources/png.py``
                  (filter 0, zlib level 6); int16 values bit-cast to
                  uint16. Lossless.
  * ``q8``      — 8-bit linear quantization of the tile's value range
                  (header: float64 lo, float64 hi, then h*w uint8).
                  LOSSY — used to exercise the PSNR>=40dB gate.

The reference's GeoTIFF read/write (georasters.py:179-205, :535-557,
:1548-1566) is re-realized as these codecs + the images table; nodata
handling follows georasters.py:329-333 (value == ndv <=> masked).

No per-row Python in the hot path: callers loop per *tile* (coarse unit),
all per-pixel work is vectorized numpy.
"""

from __future__ import annotations

import struct

import numpy as np

from . import png


def encode_q8(arr: np.ndarray, ndv: float) -> bytes:
    """Lossy 8-bit quantization over the tile's valid-value range.

    ndv cells are stored as code 255 and restored exactly; valid values
    quantize into codes 0..254.
    """
    a = np.asarray(arr, dtype=np.float64)
    valid = a != ndv
    if valid.any():
        lo = float(a[valid].min())
        hi = float(a[valid].max())
    else:
        lo = hi = 0.0
    span = (hi - lo) or 1.0
    codes = np.full(a.shape, 255, dtype=np.uint8)
    codes[valid] = np.clip(np.rint((a[valid] - lo) / span * 254.0), 0, 254).astype(
        np.uint8
    )
    return struct.pack("<dd", lo, hi) + codes.tobytes()


def decode_q8(buf: bytes, w: int, h: int, ndv: float) -> np.ndarray:
    lo, hi = struct.unpack("<dd", buf[:16])
    codes = np.frombuffer(buf[16:], dtype=np.uint8).reshape(h, w)
    span = (hi - lo) or 1.0
    out = lo + codes.astype(np.float64) / 254.0 * span
    out[codes == 255] = ndv
    return out


def encode_tile(arr: np.ndarray, fmt: str, ndv: float) -> bytes:
    if fmt == "raw16":
        return np.ascontiguousarray(arr, dtype="<i2").tobytes()
    if fmt == "rawi32":
        return np.ascontiguousarray(arr, dtype="<i4").tobytes()
    if fmt == "rawf32":
        return np.ascontiguousarray(arr, dtype="<f4").tobytes()
    if fmt == "rawf64":
        return np.ascontiguousarray(arr, dtype="<f8").tobytes()
    if fmt == "png":
        a = np.ascontiguousarray(arr, dtype=np.int16)
        return png.encode(a.view(np.uint16), filter_strategy="none")
    if fmt == "q8":
        return encode_q8(arr, ndv)
    if fmt == "tiff":
        from . import geotiff

        a = np.ascontiguousarray(arr)
        return geotiff.write_tiff(
            a, ndv=ndv, compression="deflate", predictor=a.dtype.kind in "iu"
        )
    raise ValueError(f"unknown fmt {fmt!r}")


def decode_tile(buf: bytes, fmt: str, w: int, h: int, ndv: float) -> np.ndarray:
    """Decode tile bytes to a 2-D (h, w) numpy array (float64 or int16)."""
    if fmt == "raw16":
        return np.frombuffer(buf, dtype="<i2").reshape(h, w)
    if fmt == "rawi32":
        return np.frombuffer(buf, dtype="<i4").reshape(h, w).astype(np.float64)
    if fmt == "rawf32":
        return np.frombuffer(buf, dtype="<f4").reshape(h, w).astype(np.float64)
    if fmt == "rawf64":
        return np.frombuffer(buf, dtype="<f8").reshape(h, w)
    if fmt == "png":
        a = png.decode(buf)
        if a.dtype != np.uint16 or a.shape != (h, w):
            raise ValueError(
                f"png tile: expected 16-bit gray {(h, w)}, got "
                f"{a.dtype} {a.shape}")
        return a.view(np.int16)
    if fmt == "q8":
        return decode_q8(buf, w, h, ndv)
    if fmt == "tiff":
        from . import geotiff

        a, _meta = geotiff.parse_tiff(buf)
        return a if a.dtype == np.int16 else np.asarray(a, dtype=np.float64)
    raise ValueError(f"unknown fmt {fmt!r}")


def average_hash(arr: np.ndarray, ndv: float, grid: int = 8) -> int:
    """64-bit average hash (phash column): block-mean to grid x grid,
    bit = block mean > overall mean. ndv treated as 0 contribution."""
    a = np.asarray(arr, dtype=np.float64).copy()
    a[a == ndv] = 0.0
    h, w = a.shape
    if h < grid or w < grid:
        # tiles smaller than the hash grid: zero-pad up to grid x grid
        # (reshape below would otherwise fail for h or w < grid)
        padded = np.zeros((max(h, grid), max(w, grid)))
        padded[:h, :w] = a
        a = padded
        h, w = a.shape
    bh, bw = max(h // grid, 1), max(w // grid, 1)
    a = a[: bh * grid, : bw * grid]
    blocks = a.reshape(grid, bh, grid, bw).mean(axis=(1, 3))
    bits = (blocks > blocks.mean()).ravel()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return int(np.uint64(val).view(np.int64))


def psnr(ref: np.ndarray, test: np.ndarray, ndv: float) -> float:
    """PSNR in dB over valid (non-ndv) cells; inf when identical."""
    r = np.asarray(ref, dtype=np.float64)
    t = np.asarray(test, dtype=np.float64)
    valid = r != ndv
    if not valid.any():
        return float("inf")
    err = r[valid] - t[valid]
    mse = float(np.mean(err * err))
    if mse == 0.0:
        return float("inf")
    peak = float(np.abs(r[valid]).max()) or 1.0
    return 10.0 * np.log10(peak * peak / mse)
