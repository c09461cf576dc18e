"""Perceptual media fingerprints: DCT perceptual hash (pHash) for
image near-dup and FFT dominant-frequency analysis for audio.

Beyond-parity module (SURVEY §2.G / BASELINE north star: multimodal
training-data pipeline operators — the reference delegates all media
handling to opaque BLOB columns). Both operators run inside
Arrow-batched ``mapInPandas`` slots over narrow ``(media_id, data)``
frames, the same two-boundary shape as ``multimodal.decode_image``;
everything after the fingerprint is plain
Catalyst (groupBy on a 63-bit key / a small int bin).

100 TB design notes:

- pHash is a **linear** per-row transform (decode + two 32x32 matmuls)
  followed by a hash-keyed groupBy — the shuffle carries one long per
  image, never pixels. Near-dup at scale then rides the existing
  banded-LSH machinery (``operators/dedup.py``) with pHash bands as
  keys; the exact-group form below is the degenerate 1-band case.
- dominant-bin analysis is likewise per-row (rfft of a bounded clip
  window, not the whole track) + a tiny-cardinality groupBy.

pHash definition (standard DCT-II form): normalize to a 32x32
grayscale raster (integer-factor box averaging — exact for the
pyramid-scaled inputs the tests construct), orthonormal 2-D DCT-II,
take the top-left 8x8 low-frequency block, drop the DC term, threshold
the remaining 63 coefficients against their median → 63-bit fingerprint.
Scale-doubling an image (2x2 block replication) leaves the box-averaged
raster — hence the hash — bit-identical, which is the invariance the
oracle checks.
"""

from __future__ import annotations

import numpy as np

PHASH_SIDE = 32  # normalized raster side fed to the DCT
PHASH_BLOCK = 8  # low-frequency block kept


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis (rows = frequencies)."""
    k = np.arange(n, dtype=np.float64)[:, None]
    i = np.arange(n, dtype=np.float64)[None, :]
    m = np.cos(np.pi * (2.0 * i + 1.0) * k / (2.0 * n))
    m[0, :] *= np.sqrt(1.0 / n)
    m[1:, :] *= np.sqrt(2.0 / n)
    return m


_DCT = _dct_matrix(PHASH_SIDE)


def box_downsample(gray: np.ndarray, side: int = PHASH_SIDE) -> np.ndarray:
    """Integer-factor box average down to ``side`` x ``side``. Exact
    (mean of equal values) for block-replicated pyramids; trailing rows
    that do not divide evenly are cropped — deterministic either way."""
    h, w = gray.shape
    fy, fx = max(1, h // side), max(1, w // side)
    g = gray[: fy * side, : fx * side].astype(np.float64)
    return g.reshape(side, fy, side, fx).mean(axis=(1, 3))


def phash63(img: np.ndarray) -> int:
    """63-bit DCT perceptual hash of an image array ((h, w) or
    (h, w, ch); channels are averaged to luma-ish gray)."""
    g = np.asarray(img, dtype=np.float64)
    if g.ndim == 3:
        g = g.mean(axis=2)
    if g.shape != (PHASH_SIDE, PHASH_SIDE):
        g = box_downsample(g)
    d = _DCT @ g @ _DCT.T
    block = d[:PHASH_BLOCK, :PHASH_BLOCK].ravel()[1:]  # drop DC
    med = float(np.median(block))
    bits = 0
    for above in block > med:
        bits = (bits << 1) | int(above)
    return bits


def hamming63(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def synth_gray_image(seed: int, scale: int = 1) -> np.ndarray:
    """Deterministic pseudo-random 32x32 grayscale raster from an
    integer seed (LCG — same constants as ``_lcg_hyperplanes``),
    block-replicated by ``scale`` (the pyramid variant whose pHash must
    equal the base's)."""
    state = (seed * 6364136223846793005 + 1442695040888963407) % (1 << 63)
    vals = np.empty(PHASH_SIDE * PHASH_SIDE, dtype=np.uint8)
    for i in range(vals.size):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        vals[i] = (state >> 33) & 0xFF
    img = vals.reshape(PHASH_SIDE, PHASH_SIDE)
    if scale > 1:
        img = np.kron(img, np.ones((scale, scale), dtype=np.uint8))
    return img


def dominant_bin(samples: np.ndarray) -> int:
    """Dominant non-DC frequency bin of a PCM clip (rfft magnitude
    argmax). For a pure integer-bin sine the result is exact — all
    energy lands in one bin, leakage is zero."""
    x = np.asarray(samples, dtype=np.float64)
    if x.ndim == 2:
        x = x.mean(axis=1)
    mag = np.abs(np.fft.rfft(x))
    if mag.size <= 1:
        return 0
    return int(np.argmax(mag[1:])) + 1
