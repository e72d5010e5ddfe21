"""Image payload codecs — numpy only (no Pillow in this environment).

The input_hint mandates an images table ``(image_id, bytes, w, h, fmt,
caption, phash)`` with per-row invariants: decoded-pixel allclose
(PSNR ≥ 40 dB for lossy) + exact caption equality.  Two real formats:

* ``ppm`` — binary P6, lossless (bit-exact roundtrip);
* ``dctq`` — lossy stand-in: 8×8 block DCT-II + uniform quantization,
  int16-packed; quantization step chosen so PSNR ≥ 40 dB holds;
* ``jpeg`` — REAL baseline JFIF (images/jpeg.py): standards-compliant
  4:4:4 sequential DCT with Annex K tables, decodable by any viewer;
  PSNR ≥ 40 dB at the default quality (pinned in tests).

Other real-world formats (PNG/video frames) need codecs not present in
this container; ``decode`` raises ``NotImplementedError`` for them behind
the same interface — the Spark-side plumbing (binary columns, Arrow
batching, schema) is identical either way.

Everything is vectorized numpy so it runs inside ``mapInPandas`` batches
with no per-row Python beyond the loop over rows of a batch.
"""
from __future__ import annotations

import numpy as np

from mlscraper_spark.crawl.urlnorm import xxhash64

# ---------------------------------------------------------------------------
# deterministic synthetic pixels (the "download" of the synthetic web)
# ---------------------------------------------------------------------------


def make_image(image_id: str, w: int, h: int) -> np.ndarray:
    """Deterministic RGB uint8 image for an image_id — gradients + sines
    parameterized by the id's hash (seeded, no RNG state)."""
    hsh = xxhash64(image_id.encode()) & 0x7FFFFFFFFFFFFFFF
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    fx = 1 + (hsh % 5)
    fy = 1 + ((hsh >> 8) % 5)
    phase = (hsh >> 16) % 628 / 100.0
    # full-spectrum deterministic texture (keeps the perceptual hash
    # well-conditioned: pure sinusoids leave most DCT bins near zero)
    tex = (
        (xx.astype(np.int64) * 1103515245 + yy.astype(np.int64) * 12345 + hsh)
        % (1 << 31)
    ) / float(1 << 31) * 80.0 - 40.0
    r = 110.0 + 100.0 * np.sin(2 * np.pi * fx * xx / w + phase) + tex
    g = 40.0 + 175.0 * yy / max(h - 1, 1) + tex
    b = 110.0 + 100.0 * np.cos(2 * np.pi * fy * yy / h + phase) + tex
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# PPM (lossless)
# ---------------------------------------------------------------------------


def encode_ppm(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    return f"P6 {w} {h} 255\n".encode() + img.tobytes()


def decode_ppm(data: bytes) -> np.ndarray:
    header_end = data.index(b"\n")
    magic, w, h, maxval = data[:header_end].split()
    assert magic == b"P6" and maxval == b"255"
    w, h = int(w), int(h)
    return np.frombuffer(data[header_end + 1:], dtype=np.uint8).reshape(h, w, 3)


# ---------------------------------------------------------------------------
# DCTQ (lossy): 8x8 DCT-II blocks, uniform quantization
# ---------------------------------------------------------------------------

_N = 8
_k = np.arange(_N)
_DCT = np.sqrt(2.0 / _N) * np.cos(np.pi * (2 * _k[None, :] + 1) * _k[:, None] / (2 * _N))
_DCT[0, :] = np.sqrt(1.0 / _N)
_QSTEP = 2.0  # uniform quant step → PSNR comfortably above 40 dB


def _blockify(chan: np.ndarray) -> tuple[np.ndarray, int, int]:
    h, w = chan.shape
    ph, pw = (-h) % _N, (-w) % _N
    padded = np.pad(chan, ((0, ph), (0, pw)), mode="edge").astype(np.float64)
    H, W = padded.shape
    blocks = padded.reshape(H // _N, _N, W // _N, _N).transpose(0, 2, 1, 3)
    return blocks, H, W


def encode_dctq(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    out = [b"DCTQ", np.array([w, h], dtype=np.int32).tobytes()]
    for c in range(3):
        blocks, H, W = _blockify(img[:, :, c])
        # same contraction as einsum("ij,abjk,lk->abil", DCT, ., DCT) but
        # through broadcast matmul, which dispatches to BLAS — the
        # three-operand einsum takes numpy's scalar c_einsum path and was
        # 60% of the whole extract-images loop (r6 profile)
        coeffs = _DCT @ (blocks - 128.0) @ _DCT.T
        q = np.round(coeffs / _QSTEP).astype(np.int16)
        out.append(np.array([H, W], dtype=np.int32).tobytes())
        out.append(q.tobytes())
    return b"".join(out)


def decode_dctq(data: bytes) -> np.ndarray:
    assert data[:4] == b"DCTQ"
    w, h = np.frombuffer(data[4:12], dtype=np.int32)
    pos = 12
    chans = []
    for _ in range(3):
        H, W = np.frombuffer(data[pos:pos + 8], dtype=np.int32)
        pos += 8
        n = (H // _N) * (W // _N) * _N * _N
        q = np.frombuffer(data[pos:pos + n * 2], dtype=np.int16).reshape(
            H // _N, W // _N, _N, _N
        )
        pos += n * 2
        # einsum("ji,abjk,kl->abil", DCT, ., DCT) == DCT.T @ . @ DCT (see
        # encode_dctq: matmul dispatches to BLAS, c_einsum does not)
        blocks = _DCT.T @ (q * _QSTEP) @ _DCT + 128.0
        chan = blocks.transpose(0, 2, 1, 3).reshape(H, W)
        chans.append(chan[:h, :w])
    return np.clip(np.stack(chans, axis=-1), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# format dispatch
# ---------------------------------------------------------------------------

def _encode_jpeg(img: np.ndarray) -> bytes:
    from mlscraper_spark.images.jpeg import encode_jpeg

    return encode_jpeg(img)


def _decode_jpeg(data: bytes) -> np.ndarray:
    from mlscraper_spark.images.jpeg import decode_jpeg

    return decode_jpeg(data)


ENCODERS = {"ppm": encode_ppm, "dctq": encode_dctq, "jpeg": _encode_jpeg}
DECODERS = {"ppm": decode_ppm, "dctq": decode_dctq, "jpeg": _decode_jpeg}


def encode(img: np.ndarray, fmt: str) -> bytes:
    if fmt not in ENCODERS:
        raise NotImplementedError(
            f"format {fmt!r}: codecs beyond ppm/dctq/jpeg are not available "
            "in this environment; the Spark plumbing is format-agnostic"
        )
    return ENCODERS[fmt](img)


def decode(data: bytes, fmt: str) -> np.ndarray:
    if fmt not in DECODERS:
        raise NotImplementedError(f"format {fmt!r} not available (see encode)")
    return DECODERS[fmt](data)


# ---------------------------------------------------------------------------
# metrics + perceptual hash (F12)
# ---------------------------------------------------------------------------


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 ** 2 / mse)


_P = 32
_pk = np.arange(_P)
_PDCT = np.sqrt(2.0 / _P) * np.cos(
    np.pi * (2 * _pk[None, :] + 1) * _pk[:, None] / (2 * _P)
)
_PDCT[0, :] = np.sqrt(1.0 / _P)


def phash(img: np.ndarray) -> int:
    """64-bit perceptual hash: grayscale → 32×32 box-resample → DCT-II →
    top-left 8×8 sans DC → median threshold.  Signed 64-bit (LongType)."""
    gray = img.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = gray.shape
    ys = (np.arange(_P) * h // _P)
    xs = (np.arange(_P) * w // _P)
    small = gray[np.ix_(ys, xs)]
    coeffs = _PDCT @ small @ _PDCT.T
    block = coeffs[:8, :8].flatten()[1:]  # drop DC
    bits = block > np.median(block)
    val = 0
    for bit in bits[:63]:
        val = (val << 1) | int(bit)
    return val  # 63 bits always fit signed int64 (LongType)


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")
