"""Image codecs in numpy + stdlib zlib (no Pillow in sandbox).

The `fmt` column of the input table (BASELINE input_hint) selects the
codec for the `bytes` payload. Decoded convention: uint8 ndarray of
shape (bands, h, w) — planar, matching the reference's band-major
raster layout (/root/reference/src/io/cog_reader.rs:1046-1056).

Codecs:
- raw : C-order planar uint8 bytes; bands inferred as len/(w*h).
- ppm : P6 binary (RGB chunky) — standard public format.
- png : minimal PNG (zlib stdlib); encoder emits filter 0, decoder
        handles filter types 0-4. Lossless.
- qdct: lossy 8x8 block DCT + uniform quantization (quality tuned so
        PSNR >= 40 dB, the BASELINE lossy-parity budget).

All functions operate on whole numpy arrays; inside Spark they are
called per Arrow batch from mapInPandas — never per-row Python on the
JVM boundary (the per-image loop is unavoidable since payloads are
variable-length, but it's numpy work on decoded arrays).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------- raw
def encode_raw(img: np.ndarray) -> bytes:
    return np.ascontiguousarray(img, dtype=np.uint8).tobytes()


def decode_raw(data: bytes, w: int, h: int) -> np.ndarray:
    arr = np.frombuffer(data, dtype=np.uint8)
    bands = arr.size // (w * h)
    return arr.reshape(bands, h, w)


# ---------------------------------------------------------------- ppm
def encode_ppm(img: np.ndarray) -> bytes:
    bands, h, w = img.shape
    if bands != 3:
        raise ValueError("ppm requires 3 bands")
    header = f"P6\n{w} {h}\n255\n".encode()
    return header + np.ascontiguousarray(img.transpose(1, 2, 0), np.uint8).tobytes()


def decode_ppm(data: bytes, w: int = 0, h: int = 0) -> np.ndarray:
    # parse "P6\n<w> <h>\n<max>\n"
    parts = data.split(b"\n", 3)
    w_, h_ = (int(v) for v in parts[1].split())
    body = parts[3]
    arr = np.frombuffer(body[: w_ * h_ * 3], dtype=np.uint8).reshape(h_, w_, 3)
    return np.ascontiguousarray(arr.transpose(2, 0, 1))


# ---------------------------------------------------------------- png
def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    bands, h, w = img.shape
    if bands == 3:
        color_type, px = 2, img.transpose(1, 2, 0)
    elif bands == 1:
        color_type, px = 0, img[0][..., None]
    else:
        raise ValueError("png supports 1 or 3 bands")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    rows = np.ascontiguousarray(px, np.uint8).reshape(h, w * bands)
    raw = np.concatenate([np.zeros((h, 1), np.uint8), rows], axis=1).tobytes()
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


_PNG_BANDS = {0: 1, 2: 3}  # color type -> bands: grayscale, RGB


def decode_png(data: bytes, w: int = 0, h: int = 0) -> np.ndarray:
    """8-bit, non-interlaced grayscale or RGB PNG -> uint8 (bands, h, w).
    Anything else raises ValueError naming the offending field."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("png signature: not a PNG stream")
    pos = 8
    idat = b""
    w_ = h_ = bands = 0
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            if len(payload) != 13:
                raise ValueError(f"png IHDR length {len(payload)}: expected 13")
            w_, h_, depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", payload)
            if depth != 8:
                raise ValueError(f"png IHDR bit depth {depth}: only 8 is supported")
            if color_type not in _PNG_BANDS:
                raise ValueError(f"png IHDR color type {color_type}: only 0 "
                                 "(grayscale) and 2 (RGB) are supported")
            if interlace != 0:
                raise ValueError(f"png IHDR interlace method {interlace}: "
                                 "only 0 (none) is supported")
            bands = _PNG_BANDS[color_type]
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if not bands:
        raise ValueError("png IHDR: missing")
    stride = w_ * bands
    try:
        raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    except zlib.error as e:
        raise ValueError(f"png IDAT: {e}") from None
    if raw.size != h_ * (stride + 1):
        raise ValueError(f"png IDAT inflates to {raw.size} bytes, "
                         f"expected {h_ * (stride + 1)} for {w_}x{h_}x{bands}")
    raw = raw.reshape(h_, stride + 1)
    filters, rows = raw[:, 0], raw[:, 1:].astype(np.int32)
    out = np.zeros((h_, stride), np.int32)
    bpp = bands
    for r in range(h_):
        ft, row = filters[r], rows[r].copy()
        prev = out[r - 1] if r > 0 else np.zeros(stride, np.int32)
        if ft == 0:
            out[r] = row
        elif ft == 2:  # up
            out[r] = (row + prev) & 0xFF
        elif ft in (1, 3, 4):  # sub / average / paeth need left scan
            cur = np.zeros(stride, np.int32)
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (row[i] + pred) & 0xFF
            out[r] = cur
        else:
            raise ValueError(f"bad filter {ft}")
    px = out.astype(np.uint8).reshape(h_, w_, bands)
    return np.ascontiguousarray(px.transpose(2, 0, 1))


# --------------------------------------------------------------- qdct
_DCT_N = 8
_DCT_M = np.cos(np.pi / _DCT_N * (np.arange(_DCT_N)[None, :] + 0.5) * np.arange(_DCT_N)[:, None])
_DCT_M *= np.sqrt(2.0 / _DCT_N)
_DCT_M[0] /= np.sqrt(2.0)
_Q_STEP = 6.0  # uniform quantizer step; PSNR ~46 dB on natural gradients


def _blockify(plane: np.ndarray) -> tuple[np.ndarray, int, int]:
    h, w = plane.shape
    ph, pw = (-h) % _DCT_N, (-w) % _DCT_N
    plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    hb, wb = plane.shape[0] // _DCT_N, plane.shape[1] // _DCT_N
    blocks = plane.reshape(hb, _DCT_N, wb, _DCT_N).transpose(0, 2, 1, 3)
    return blocks, hb, wb


def encode_qdct(img: np.ndarray) -> bytes:
    bands, h, w = img.shape
    out = [struct.pack(">BHH", bands, h, w)]
    coef = []
    for b in range(bands):
        blocks, hb, wb = _blockify(img[b].astype(np.float64) - 128.0)
        d = np.einsum("ij,bcjk,lk->bcil", _DCT_M, blocks, _DCT_M)
        coef.append(np.round(d / _Q_STEP).astype(np.int16))
    payload = np.concatenate([c.ravel() for c in coef]).tobytes()
    out.append(zlib.compress(payload, 6))
    return b"".join(out)


def _idct_blocks(coef: np.ndarray) -> np.ndarray:
    """The qdct decode law: the inverse 2-D DCT of a (n, 8, 8) stack of
    dequantized coefficient blocks, summed as this einsum sums it.

    The summation order is part of the codec's output: a DC-only block
    decodes to exact .5 values, and the order decides which way `rint`
    goes. Each block's values depend on that block alone, so the law
    may run on any subset of a stack. `decode_qdct` reproduces this
    function's bytes exactly; it is the codec's definition and the
    reference its tests compare to."""
    return np.einsum("ji,njk,kl->nil", _DCT_M, coef, _DCT_M)


_DCT_ABS = np.abs(_DCT_M)
_TIE_TOL = 256.0 * np.finfo(np.float64).eps


def _near_tie(coef: np.ndarray, x: np.ndarray) -> np.ndarray:
    """(n,) mask of the blocks of x = M^T C M + 128 (BLAS) with some
    value within tol = 256 eps (|M|^T |C| |M| + 256) of a .5 tie."""
    tol = _TIE_TOL * (_DCT_ABS.T @ np.abs(coef) @ _DCT_ABS + 256.0)
    return (np.abs(x - np.floor(x) - 0.5) <= tol).any(axis=(1, 2))


def decode_qdct(data: bytes, w: int = 0, h: int = 0) -> np.ndarray:
    """Decode every block as `_DCT_M.T @ C @ _DCT_M` (BLAS) and recompute
    with `_idct_blocks` only the blocks where that could round
    differently. The output equals `_idct_blocks`' on any BLAS.

    Why: let r = sum_jk M[j,i] C[j,k] M[k,l] exactly, and
    S = (|M|^T |C| |M|)[i,l] the sum of the 64 terms' magnitudes.
    A floating-point sum of products in any order, with or without
    FMA, stays within gamma_n * S of r, gamma_n = n*u/(1 - n*u),
    u = eps/2 (Higham, Accuracy and Stability of Numerical
    Algorithms, §3.1 and §3.5): the einsum's 64 three-factor products
    and 63 adds give gamma_65, the two 8-term matmuls gamma_16, so the
    two paths differ by at most gamma_81 * S < 41 eps * S. Adding 128
    rounds once on each path, at most u * (|r| + 128) each. So
    |x_blas - x_law| < 42 eps * S + 128 eps
      <= tol = 256 eps * (S + 256),
    a margin of more than 5x that also covers the rounding of S and
    tol (x - floor(x) - 0.5 is exact near a tie). A value x_blas more
    than tol from every .5 tie has x_law strictly between the same
    two ties, so `rint` maps both to the same integer; a block with
    any value within tol of a tie takes the law. On the benchmark's
    tiles ~9% of blocks do: DC-only blocks, whose values are all exact
    ties when the quantized DC is 2 mod 4, and blocks whose AC terms
    cancel exactly on a tie."""
    bands, h_, w_ = struct.unpack(">BHH", data[:5])
    hb, wb = (h_ + _DCT_N - 1) // _DCT_N, (w_ + _DCT_N - 1) // _DCT_N
    coef = np.frombuffer(zlib.decompress(data[5:]), dtype=np.int16)
    coef = coef.reshape(-1, _DCT_N, _DCT_N).astype(np.float64) * _Q_STEP
    x = _DCT_M.T @ coef @ _DCT_M + 128.0
    near = _near_tie(coef, x)
    if near.any():
        x[near] = _idct_blocks(coef[near]) + 128.0
    np.rint(x, out=x)
    np.clip(x, 0, 255, out=x)
    px = x.astype(np.uint8).reshape(bands, hb, wb, _DCT_N, _DCT_N)
    px = px.transpose(0, 1, 3, 2, 4).reshape(bands, hb * _DCT_N, wb * _DCT_N)
    return np.ascontiguousarray(px[:, :h_, :w_])


_ENCODERS = {"raw": encode_raw, "ppm": encode_ppm, "png": encode_png, "qdct": encode_qdct}
_DECODERS = {"raw": decode_raw, "ppm": decode_ppm, "png": decode_png, "qdct": decode_qdct}
LOSSLESS = {"raw", "ppm", "png"}


def encode(img: np.ndarray, fmt: str) -> bytes:
    return _ENCODERS[fmt](img)


def decode(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    """-> uint8 (bands, h, w)."""
    if fmt in ("ppm", "png", "qdct"):
        return _DECODERS[fmt](bytes(data))
    return decode_raw(bytes(data), w, h)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


def phash64(img: np.ndarray) -> int:
    """64-bit perceptual hash: mean-pool to 32x32, 2-D DCT, top-left 8x8
    (skip DC), median threshold -> sign bits. Deterministic; supports
    the kNN-by-Hamming path (BASELINE input_hint `phash` column)."""
    gray = img.astype(np.float64).mean(axis=0)
    h, w = gray.shape
    ty, tx = 32, 32
    yi = (np.arange(ty) * h // ty)
    xi = (np.arange(tx) * w // tx)
    small = gray[np.minimum(yi, h - 1)][:, np.minimum(xi, w - 1)]
    m = np.cos(np.pi / 32 * (np.arange(32)[None, :] + 0.5) * np.arange(32)[:, None])
    d = m @ small @ m.T
    block = d[:8, :8].ravel()[1:]
    med = np.median(block)
    bits = np.zeros(64, dtype=np.uint64)
    bits[1:] = (block > med).astype(np.uint64)
    word = np.uint64(0)
    for i, b in enumerate(bits):
        word |= b << np.uint64(i)
    return int(np.int64(word))
