"""JPEG codec validation — non-circular where it matters.

Components are checked against independent test-side reimplementation
of the published formulas: the DCT matrix against a naive double-sum
of the spec's cosine definition, the zigzag table against an
algorithmic diagonal walk, canonical Huffman assignment against a
hand-built BITS/HUFFVAL vector, EXTEND against spec examples. The
encoder→decoder round-trips then carry analytic error bounds: at
quality 100 every quantizer is 1, so the only loss is coefficient
rounding (max pixel error ≤ a few counts).
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dataflow_mm_lrt_spark.functions import codecs
from dataflow_mm_lrt_spark.functions.jpeg import (
    ZIGZAG,
    _extend,
    build_codes,
    dct_matrix,
    decode_jpeg,
    encode_jpeg,
    optimal_table,
)
from media_fixtures import encode_jpeg_progressive

rng = np.random.default_rng(21)


# -- independent component checks --------------------------------------------

def test_dct_matrix_vs_naive_double_sum():
    # T.81 A.3.3: F(u,v) = 1/4 C(u)C(v) ΣΣ f(x,y) cos((2x+1)uπ/16)cos((2y+1)vπ/16)
    f = rng.normal(0, 50, (8, 8))
    C = dct_matrix()
    fast = C @ f @ C.T
    naive = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            cu = 1 / np.sqrt(2) if u == 0 else 1.0
            cv = 1 / np.sqrt(2) if v == 0 else 1.0
            s = 0.0
            for x in range(8):
                for y in range(8):
                    s += (
                        f[x, y]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            naive[u, v] = 0.25 * cu * cv * s
    np.testing.assert_allclose(fast, naive, atol=1e-9)
    # and the inverse really inverts
    np.testing.assert_allclose(C.T @ fast @ C, f, atol=1e-9)


def test_zigzag_vs_diagonal_walk():
    # walk anti-diagonals, alternating direction, as the spec figure does
    order = []
    for d in range(15):
        rc = [(r, d - r) for r in range(8) if 0 <= d - r < 8]
        if d % 2 == 0:
            rc.reverse()  # even diagonals run bottom-left → top-right
        order += [r * 8 + c for r, c in rc]
    assert order == ZIGZAG.tolist()


def test_canonical_codes_hand_vector():
    # BITS = one 2-bit code, two 3-bit codes → canonical codes 00, 010, 011
    bits = [0, 1, 2] + [0] * 13
    codes = build_codes(bits, [7, 3, 9])
    assert codes == {7: (0b00, 2), 3: (0b010, 3), 9: (0b011, 3)}


def test_extend_spec_examples():
    # T.81 Table F.1: category 2 holds -3,-2,2,3; received bits are the
    # low-order bits of the magnitude (negatives offset)
    assert _extend(0, 0) == 0
    assert _extend(0, 1) == -1 and _extend(1, 1) == 1
    assert [_extend(v, 2) for v in range(4)] == [-3, -2, 2, 3]
    assert _extend(0, 5) == -31 and _extend(31, 5) == 31


@settings(max_examples=50, deadline=None)
@given(st.dictionaries(st.integers(0, 255), st.integers(1, 10_000),
                       min_size=1, max_size=200))
def test_optimal_table_always_valid(freqs):
    bits, huffval = optimal_table(freqs)
    assert sum(bits) == len(huffval) == len(freqs)
    codes = build_codes(bits, huffval)
    # prefix-free, ≤16 bits, all-ones-of-any-length never assigned
    seen = set()
    for sym, (code, length) in codes.items():
        assert 1 <= length <= 16
        assert code < (1 << length)
        assert code != (1 << length) - 1, "all-ones code must stay reserved"
        for other, (oc, ol) in codes.items():
            if other != sym and ol >= length:
                assert (oc >> (ol - length)) != code or other == sym
        seen.add((code, length))
    assert len(seen) == len(codes)


# -- round-trips with analytic bounds ----------------------------------------

def test_quality100_444_near_lossless():
    x = np.linspace(0, 255, 48)
    img = np.stack(
        np.broadcast_arrays(x[None, :], x[:, None], np.full((48, 48), 90.0)),
        axis=2,
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=100, subsample="444"))
    assert out.shape == img.shape
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 3


def test_grayscale_roundtrip():
    g = rng.integers(0, 256, (17, 23)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(g, quality=100))
    assert out.shape == (17, 23, 3)
    assert int(np.abs(out[..., 0].astype(int) - g.astype(int)).max()) <= 3
    # channels replicated
    np.testing.assert_array_equal(out[..., 0], out[..., 1])


def test_odd_dimensions_and_blocks_padded():
    img = rng.integers(0, 256, (13, 29, 3)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=92))
    assert out.shape == (13, 29, 3)


def test_420_subsampling_smooth_bound():
    x = np.linspace(30, 220, 64)
    img = np.stack(
        np.broadcast_arrays(x[None, :], x[:, None], 0.5 * (x[None, :] + x[:, None])),
        axis=2,
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=95, subsample="420"))
    d = np.abs(out.astype(int) - img.astype(int))
    assert float(d.mean()) < 2.0 and int(d.max()) <= 12


def test_restart_markers_roundtrip():
    img = rng.integers(0, 256, (24, 40, 3)).astype(np.uint8)
    plain = decode_jpeg(encode_jpeg(img, quality=85))
    rst = decode_jpeg(encode_jpeg(img, quality=85, restart_interval=3))
    # restart markers change framing, not content
    np.testing.assert_array_equal(plain, rst)


def test_compresses_for_real():
    base = np.cumsum(np.cumsum(rng.normal(0, 4, (96, 96, 3)), 0), 1)
    base = ((base - base.min()) / (base.max() - base.min()) * 255).astype(np.uint8)
    buf = encode_jpeg(base, quality=75, subsample="420")
    assert len(buf) < base.nbytes / 8, "should beat 8x on smooth content"


@settings(max_examples=15, deadline=None)
@given(st.integers(1, 40), st.integers(1, 40), st.integers(60, 100),
       st.integers(0, 2**32 - 1))
def test_roundtrip_shape_property(h, w, q, seed):
    r = np.random.default_rng(seed)
    img = r.integers(0, 256, (h, w, 3)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=q))
    assert out.shape == img.shape and out.dtype == np.uint8


# -- dispatch + gates --------------------------------------------------------

def test_decode_image_dispatch():
    img = np.full((9, 9, 3), 123, dtype=np.uint8)
    buf = encode_jpeg(img, quality=100)
    assert codecs.sniff(buf) == "jpeg"
    out = codecs.decode_image(buf)
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 3


def test_corrupt_jpeg_codec_unavailable():
    with pytest.raises(codecs.CodecUnavailable):
        codecs.decode_image(b"\xff\xd8\xff\xe0 then garbage")


def test_arithmetic_coding_rejected_clearly():
    # minimal stream with a SOF9 (arithmetic) marker: must raise
    # CodecUnavailable pointing at the upgrade path, not a parse error
    # (SOF2/progressive is decoded natively as of round 6)
    buf = b"\xff\xd8\xff\xc9\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00"
    with pytest.raises(codecs.CodecUnavailable, match="arithmetic|PIL"):
        decode_jpeg(buf)


# ------------------------------------------------------------ progressive


def _structured(h=41, w=53):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack([
        np.clip(128 + 90 * np.sin(0.11 * xx) * np.cos(0.07 * yy)
                + 40 * ((xx // 8 + yy // 8) % 2), 0, 255),
        np.clip(100 + 80 * np.cos(0.09 * xx + 1), 0, 255),
        np.clip(150 + 60 * np.sin(0.05 * (xx + yy)), 0, 255),
    ], axis=-1).astype(np.uint8)


@pytest.mark.parametrize("quality,subsample", [
    (90, "444"), (90, "420"), (50, "444"), (50, "420"),
])
def test_progressive_decode_equals_baseline(quality, subsample):
    """The progressive encoder splits the SAME quantized coefficients
    across scans (spectral selection + successive approximation), so
    decode must equal the baseline decode BIT FOR BIT — a real
    cross-check of the multi-scan reassembly (DC first/refine, AC
    first/refine, EOBRUN) against the independently spec-tested
    baseline path."""
    img = _structured()
    base = decode_jpeg(encode_jpeg(img, quality=quality, subsample=subsample))
    prog = decode_jpeg(
        encode_jpeg_progressive(img, quality=quality, subsample=subsample)
    )
    assert np.array_equal(base, prog)


def test_progressive_grayscale_and_odd_sizes():
    for h, w in [(8, 8), (9, 17), (1, 40)]:
        g = _structured(max(h, 1), max(w, 1))[..., 0][:h, :w]
        base = decode_jpeg(encode_jpeg(g, quality=75))
        prog = decode_jpeg(encode_jpeg_progressive(g, quality=75))
        assert np.array_equal(base, prog), (h, w)


def test_progressive_dc_only_truncation_is_blockwise_mean():
    """A progressive stream carrying ONLY the DC scan must decode to
    each 8x8 block's mean (quality 100 => unit quantizer; orthonormal
    DCT: IDCT of a lone DC coefficient is the block mean) — an
    ANALYTIC property of the progressive path, independent of the
    baseline decoder, and exactly the coarse-first rendering a
    truncated progressive download shows."""
    g = _structured(32, 32)[..., 0]
    blob = encode_jpeg_progressive(
        g, quality=100, scans=[((0,), 0, 0, 0, 0)]
    )
    got = decode_jpeg(blob)[..., 0].astype(np.float64)
    means = g.reshape(4, 8, 4, 8).mean(axis=(1, 3))
    want = np.repeat(np.repeat(means, 8, axis=0), 8, axis=1)
    assert np.abs(got - want).max() <= 1.0  # DC rounding only


def test_progressive_no_successive_approximation_script():
    """Spectral selection alone (Al = 0 everywhere, no refinement
    scans) — the other common scan script in the wild."""
    img = _structured()
    scans = [
        ((0, 1, 2), 0, 0, 0, 0),
        ((0,), 1, 63, 0, 0),
        ((1,), 1, 63, 0, 0),
        ((2,), 1, 63, 0, 0),
    ]
    base = decode_jpeg(encode_jpeg(img, quality=80))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality=80, scans=scans))
    assert np.array_equal(base, prog)


def test_progressive_flat_image_long_eob_runs():
    """A nearly flat image maximizes cross-block EOB runs (the deferred
    EOBRUN symbol + buffered correction bits path on both sides)."""
    img = np.full((64, 64, 3), 77, dtype=np.uint8)
    img[13, 29] = [90, 60, 100]  # one disturbance so not ALL bands empty
    base = decode_jpeg(encode_jpeg(img, quality=60))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality=60))
    assert np.array_equal(base, prog)


def test_progressive_dispatches_through_decode_image():
    img = _structured(24, 24)
    blob = encode_jpeg_progressive(img, quality=85)
    out = codecs.decode_image(blob)
    assert out.shape == (24, 24, 3)
    assert np.array_equal(out, decode_jpeg(blob))
