"""Perceptual DCT hash (pHash) over decoded images — pure numpy.

The published algorithm (Zauner 2010, "Implementation and Benchmarking
of Perceptual Image Hash Functions"; the `imagehash` package's
``phash``, which the reference's ImageDuplicateFilter calls at
image_diversity_filter.py:51): grayscale → downscale to
``hash_size * highfreq_factor`` square → 2-D DCT-II → keep the
top-left ``hash_size × hash_size`` low-frequency block → bit = (coef >
median of the block). Two images are near-duplicates when the Hamming
distance of their hashes is small (the reference uses ≤ 5 of 64).

Fidelity note: the algorithm is reproduced exactly, but the resample
kernel is this repo's bilinear (codecs.resize_bilinear) where PIL uses
Lanczos, and grayscale is float Rec.601 where PIL rounds to uint8 —
hashes are therefore not bit-identical to the ``imagehash`` package's;
the metric properties (identical images → distance 0, small
perturbations → small distance) are the same and are what the dedup
semantics depend on. A bit-parity test against ``imagehash`` is gated
behind an import-try in tests/test_phash.py (package absent here).
"""

from __future__ import annotations

import numpy as np

_DCT_BASIS: dict[int, np.ndarray] = {}


def _dct_matrix(n: int) -> np.ndarray:
    """Unnormalized DCT-II basis (scipy.fftpack.dct norm=None scaling:
    y[k] = 2·Σ x[m]·cos(π·k·(2m+1)/(2n)) — the uniform factor 2 is
    irrelevant to the median comparison but kept for comparability)."""
    if n not in _DCT_BASIS:
        k = np.arange(n)[:, None]
        m = np.arange(n)[None, :]
        _DCT_BASIS[n] = 2.0 * np.cos(np.pi * k * (2 * m + 1) / (2 * n))
    return _DCT_BASIS[n]


def phash64(img: np.ndarray, hash_size: int = 8, highfreq_factor: int = 4) -> int:
    """64-bit pHash of an (H, W, 3) uint8 image, packed row-major
    MSB-first and returned as a SIGNED 64-bit int (two's complement), so
    it round-trips through Spark's LongType; xor + bit_count on the
    signed value gives the correct Hamming distance."""
    f = img.astype(np.float64)
    gray = 0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2]
    size = hash_size * highfreq_factor
    from .codecs import resize_bilinear

    small = resize_bilinear(
        np.clip(np.round(gray), 0, 255).astype(np.uint8)[..., None], size, size
    )[..., 0].astype(np.float64)
    d = _dct_matrix(size)
    low = (d @ small @ d.T)[:hash_size, :hash_size]
    bits = (low > np.median(low)).flatten()
    packed = np.packbits(bits).tobytes()
    return int.from_bytes(packed, "big", signed=True)
