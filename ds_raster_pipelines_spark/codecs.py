"""Deterministic tile codecs (stdlib + numpy only) and the PSNR gate.

Three formats for the ``images.fmt`` column (BASELINE.json input_hint):

* ``raw`` — uint8 row-major pixels, lossless.
* ``png`` — real grayscale 8-bit PNG (zlib chunks, filter 0), lossless.
  A from-scratch minimal encoder/decoder so the container needs no
  imaging library; round-trips bit-exact.
* ``qnt`` — LOSSY 1-bit quantization (LSB cleared). Deterministic stand-in
  for JPEG: exercises the PSNR>=40dB gate of the input_hint (worst-case
  PSNR of LSB-clearing = 10*log10(255^2/0.5) ~ 51 dB).

Unsupported media (audio/video decode — libs absent in this container) are
stubbed behind NotImplementedError; the Spark-side plumbing around them is
real and tested (sources/multimodal.py).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

LOSSLESS_FMTS = frozenset(
    {"raw", "png", "tif", "cog", "nc", "nc4", "nc_packed", "nc4_packed", "gif"}
)
LOSSY_FMTS = frozenset({"qnt", "dct", "jpg"})
ALL_FMTS = LOSSLESS_FMTS | LOSSY_FMTS

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(
        ">I", zlib.crc32(tag + payload) & 0xFFFFFFFF
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """Grayscale 8-bit PNG, filter type 0 per scanline."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w = px.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # bitdepth 8, gray
    scan = np.empty((h, w + 1), dtype=np.uint8)
    scan[:, 0] = 0
    scan[:, 1:] = px
    idat = zlib.compress(scan.tobytes(), 6)
    return _PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IDAT", idat) + _png_chunk(b"IEND", b"")


def decode_png(data: bytes) -> np.ndarray:
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, w = 8, None
    idat = b""
    while pos < len(data):
        (ln,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack_from(">IIBB", payload)
            if depth != 8 or ctype != 0:
                raise ValueError("only 8-bit grayscale PNG supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + ln
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, w + 1)
    if np.any(raw[:, 0] != 0):
        raise ValueError("only filter 0 supported")
    return raw[:, 1:].copy()


def encode_raw(pixels: np.ndarray) -> bytes:
    return np.ascontiguousarray(pixels, dtype=np.uint8).tobytes()


def decode_raw(data: bytes, w: int, h: int) -> np.ndarray:
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w).copy()


def encode_qnt(pixels: np.ndarray) -> bytes:
    """Lossy: clear the LSB, then store raw."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8) & 0xFE
    return px.tobytes()


# ------------------------------- DCT transform codec (JPEG-like, lossy) ---
#
# A REAL transform codec for the input_hint's lossy path: 8x8 orthonormal
# DCT-II per block, JPEG-style quantization matrix scaled by quality, and
# zlib over the zigzag-ordered int16 coefficients as the (deterministic,
# lossless) entropy stage. The reference's imagery flows through GDAL/COG
# compression (floodscan_pipeline.py:384 writes driver='COG'); this is the
# lossy analog the PSNR>=40dB gate of BASELINE.json's input_hint measures.
# Pure numpy matrix multiplies — no per-pixel Python, no imaging library.

_DCT_MAGIC = b"DCT1"
_DCT_N = 8

# JPEG Annex K luminance table (the public baseline quantization matrix)
_DCT_QTABLE = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.float64,
)


def _dct_matrix(n: int = _DCT_N) -> np.ndarray:
    """Orthonormal DCT-II basis matrix D (D @ D.T = I)."""
    k = np.arange(n)[:, None]
    j = np.arange(n)[None, :]
    d = np.cos((2 * j + 1) * k * np.pi / (2 * n)) * np.sqrt(2.0 / n)
    d[0] /= np.sqrt(2.0)
    return d


_DCT_D = _dct_matrix()


def _zigzag_order(n: int = _DCT_N) -> np.ndarray:
    idx = sorted(
        ((y, x) for y in range(n) for x in range(n)),
        key=lambda p: (p[0] + p[1], p[1] if (p[0] + p[1]) % 2 else p[0]),
    )
    return np.array([y * n + x for y, x in idx])


_DCT_ZZ = _zigzag_order()
_INV_DCT_ZZ = np.argsort(_DCT_ZZ)  # raster slot -> zigzag index (gather form)
# Sparse-IDCT support tables (r8, shared with jpeg.py): _IDCT_BASIS row
# u*8+v is the flattened outer product D[u,:] (x) D[v,:] — the algebraic
# expansion of P = D^T C D into per-coefficient basis blocks; _ZZ2R maps
# a zigzag index to its raster slot for the native kernel.
_IDCT_BASIS = np.ascontiguousarray(
    (_DCT_D[:, None, :, None] * _DCT_D[None, :, None, :]).reshape(64, 64)
)
_ZZ2R = bytes(int(x) for x in _DCT_ZZ)


def _dct_scaled_q(quality: int) -> np.ndarray:
    """JPEG quality scaling (IJG formula) of the base table."""
    if not 1 <= quality <= 100:
        raise ValueError("quality in 1..100")
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = np.floor((_DCT_QTABLE * s + 50) / 100)
    return np.clip(q, 1, 255)


def _blocks(px: np.ndarray) -> np.ndarray:
    """(h, w) -> (nby, nbx, 8, 8) view-reshape (dims must divide by 8)."""
    h, w = px.shape
    return px.reshape(h // _DCT_N, _DCT_N, w // _DCT_N, _DCT_N).swapaxes(1, 2)


def encode_dct(pixels: np.ndarray, quality: int = 90) -> bytes:
    """8x8 block DCT -> quantize -> zigzag -> zlib. Dims must divide by 8
    (pad upstream if not — tiles in this engine are 64x64)."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w = px.shape
    if h % _DCT_N or w % _DCT_N:
        raise ValueError(f"dct codec needs dims divisible by {_DCT_N}, got {h}x{w}")
    q = _dct_scaled_q(quality)
    b = _blocks(px).astype(np.float64) - 128.0
    # C = D B D^T for every block in one einsum pair
    coef = np.einsum("ij,abjk,lk->abil", _DCT_D, b, _DCT_D, optimize=True)
    quant = np.round(coef / q).astype(np.int16)
    zz = quant.reshape(-1, _DCT_N * _DCT_N)[:, _DCT_ZZ]
    payload = zlib.compress(zz.astype("<i2").tobytes(), 6)
    return _DCT_MAGIC + struct.pack("<HHB", w, h, quality) + payload


# int32 raster quant tables per quality for the native IDCT (values are
# exact small integers, so the cast is lossless); keyed by quality so the
# array identity is stable for native._addr's address memo.
_DCT_QI32: dict[int, np.ndarray] = {}


def _q_i32(quality: int) -> np.ndarray:
    hit = _DCT_QI32.get(quality)
    if hit is None:
        hit = np.ascontiguousarray(_dct_scaled_q(quality).reshape(-1), dtype=np.int32)
        _DCT_QI32[quality] = hit
    return hit


def decode_dct(data: bytes) -> np.ndarray:
    if data[:4] != _DCT_MAGIC:
        raise ValueError("not a DCT blob")
    w, h, quality = struct.unpack_from("<HHB", data, 4)
    zz_raw = np.frombuffer(zlib.decompress(data[9:]), dtype="<i2")
    nby, nbx = h // _DCT_N, w // _DCT_N
    # native sparse-IDCT fast path (r8): same kernel as jpeg.py —
    # P = sum of nonzero-coefficient basis blocks, byte-parity with the
    # einsum below pytest-pinned over corpus tiles and random blobs
    from . import native

    # the kernel writes every block it is given into an (h, w) frame: only
    # a payload of exactly that many blocks goes native (the numpy path
    # raises the canonical error for any other size)
    if zz_raw.size == nby * nbx * _DCT_N * _DCT_N == h * w:
        zz_i32 = np.ascontiguousarray(zz_raw.reshape(-1, _DCT_N * _DCT_N), dtype=np.int32)
        out = np.empty((1, h, w), dtype=np.uint8)
        if native.jpeg_idct_blocks(zz_i32, _q_i32(quality), _IDCT_BASIS, _ZZ2R, nbx, nby * nbx, out):
            return out[0]
    q = _dct_scaled_q(quality)
    zz = zz_raw.astype(np.float64).reshape(-1, _DCT_N * _DCT_N)
    # unzigzag as a GATHER (np.take) instead of a fancy-index scatter —
    # identical permutation, ~12x faster (r8; same fix as jpeg.py)
    quant = np.take(zz, _INV_DCT_ZZ, axis=1)
    coef = quant.reshape(nby, nbx, _DCT_N, _DCT_N) * q
    # B = D^T C D
    b = np.einsum("ji,abjk,kl->abil", _DCT_D, coef, _DCT_D, optimize=True)
    px = np.clip(np.round(b + 128.0), 0, 255).astype(np.uint8)
    return px.swapaxes(1, 2).reshape(h, w)


def encode_tile(pixels: np.ndarray, fmt: str, meta: dict | None = None) -> bytes:
    """``meta`` is consumed by container formats that embed georeferencing
    (currently 'nc': lon0/lat_top/span_deg/date_days); pixel-only formats
    ignore it."""
    if fmt == "raw":
        return encode_raw(pixels)
    if fmt == "png":
        return encode_png(pixels)
    if fmt == "qnt":
        return encode_qnt(pixels)
    if fmt == "tif":  # strip-based PackBits TIFF (tiff.py, from scratch)
        from . import tiff

        return tiff.encode_tif(pixels)
    if fmt == "cog":  # tiled TIFF + overview IFD — the COG sink shape
        from . import tiff

        return tiff.encode_cog(pixels)
    if fmt == "nc":  # classic NetCDF-3 container (netcdf.py, from scratch)
        from . import netcdf

        return netcdf.encode_nc_tile(pixels, **(meta or {}))
    if fmt == "nc4":  # NetCDF-4 / HDF5 container (hdf5.py, from scratch)
        from . import hdf5

        return hdf5.encode_nc4_tile(pixels, **(meta or {}))
    if fmt == "nc_packed":  # CF packed shorts + scale_factor/add_offset
        from . import netcdf

        return netcdf.encode_nc_tile_packed(pixels, **(meta or {}))
    if fmt == "nc4_packed":  # CF packed shorts in the HDF5 container
        from . import hdf5

        return hdf5.encode_nc4_tile_packed(pixels, **(meta or {}))
    if fmt == "gif":  # GIF89a / LZW (gif.py, from scratch)
        from . import gif

        return gif.encode_gif(pixels)
    if fmt == "jpg":  # real baseline JFIF (jpeg.py, from scratch)
        from . import jpeg

        return jpeg.encode_jpeg(pixels)
    if fmt == "dct":  # JPEG-like lossy transform codec
        return encode_dct(pixels)
    raise ValueError(f"unknown fmt {fmt!r}")


def decode_tile(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    """bytes -> uint8 (h, w). The single entry point the Arrow kernels use."""
    if fmt in ("raw", "qnt"):
        return decode_raw(data, w, h)
    if fmt == "png":
        return decode_png(data)
    if fmt in ("tif", "cog"):  # both read the full-resolution IFD
        from . import tiff

        return tiff.decode_tif(data)
    if fmt in ("nc", "nc_packed"):  # classic NetCDF-3: (time, lat, lon)
        from . import netcdf

        return netcdf.decode_nc_tile(data)
    if fmt in ("nc4", "nc4_packed"):  # NetCDF-4 / HDF5: the IMERG .nc4 shape
        from . import hdf5

        return hdf5.decode_nc4_tile(data)
    if fmt == "gif":  # GIF89a / LZW
        from . import gif

        return gif.decode_gif(data)
    if fmt == "dct":
        return decode_dct(data)
    if fmt in ("jpg", "jpeg"):  # real baseline JFIF (jpeg.py, from scratch)
        from . import jpeg

        return jpeg.decode_jpeg(data)
    if fmt == "webp":
        # webp's VP8 intra-prediction codec is out of scope for a from-
        # scratch build here; jpg covers the lossy container family.
        raise NotImplementedError(f"codec {fmt!r} not available in this environment")
    raise ValueError(f"unknown fmt {fmt!r}")


def psnr(a: np.ndarray, b: np.ndarray, peak: float = 255.0) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical arrays."""
    mse = float(np.mean((np.asarray(a, np.float64) - np.asarray(b, np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(peak * peak / mse)
