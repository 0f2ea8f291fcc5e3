"""VP8L (WebP lossless) codec tests.

The decode vectors are HAND-ASSEMBLED bitstreams (spec §5 BNF) with
hand-computed expected pixels — independent of the encoder — covering
simple codes, normal (code-length-coded) codes with an explicit
max_symbol, LZ77 plane-code distances, the color cache, subtract-green
and color-indexing-with-bundling transforms. Encoder round trips then
cover the package-merge Huffman paths over adversarial images.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from dataflow_mm_lrt_spark.functions import codecs
from dataflow_mm_lrt_spark.functions.webp import (
    BitReader,
    BitWriter,
    _CLC_ORDER,
    _PLANE_OFFSETS,
    _package_merge,
    canonical_codes,
    decode_vp8l,
    decode_webp,
    encode_webp,
    plane_code_to_distance,
    prefix_encode,
)
from media_fixtures import prefix_value


def _wrap(payload: bytes) -> bytes:
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def _header(bw: BitWriter, w: int, h: int) -> None:
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)


def _simple_code(bw: BitWriter, symbols: list[int]) -> None:
    """Hand-write a simple prefix code definition (transmission order)."""
    bw.write(1, 1)
    bw.write(len(symbols) - 1, 1)
    if symbols[0] <= 1:
        bw.write(0, 1)
        bw.write(symbols[0], 1)
    else:
        bw.write(1, 1)
        bw.write(symbols[0], 8)
    if len(symbols) == 2:
        bw.write(symbols[1], 8)


# ---------------------------------------------------------------------------
# bit I/O and prefix-value plumbing
# ---------------------------------------------------------------------------


def test_bit_roundtrip():
    bw = BitWriter()
    vals = [(0x2F, 8), (1, 1), (5, 3), (16383, 14), (0, 2), (77, 7)]
    for v, n in vals:
        bw.write(v, n)
    br = BitReader(bw.getvalue())
    assert [br.bits(n) for _, n in vals] == [v for v, _ in vals]


def test_prefix_value_hand_vectors():
    # spec: codes 0..3 are literals 1..4; code 4 spans 5..6 w/ 1 extra bit
    for code, extra_bits, extra_val, expected in [
        (0, 0, 0, 1), (3, 0, 0, 4), (4, 1, 0, 5), (4, 1, 1, 6),
        (5, 1, 0, 7), (5, 1, 1, 8), (6, 2, 3, 12), (7, 2, 0, 13),
    ]:
        bw = BitWriter()
        bw.write(extra_val, extra_bits)
        assert prefix_value(BitReader(bw.getvalue()), code) == expected


def test_prefix_encode_decode_roundtrip():
    for v in list(range(1, 300)) + [1024, 4095, 4096, 16384 + 120]:
        code, extra, nbits = prefix_encode(v)
        bw = BitWriter()
        bw.write(extra, nbits)
        assert prefix_value(BitReader(bw.getvalue()), code) == v


def test_plane_code_table_shape():
    assert len(_PLANE_OFFSETS) == 120
    assert len(set(_PLANE_OFFSETS)) == 120
    # first entries per spec: directly above, directly left, …
    assert _PLANE_OFFSETS[:4] == ((0, 1), (1, 0), (1, 1), (-1, 1))
    assert plane_code_to_distance(10, 1) == 10  # pixel above
    assert plane_code_to_distance(10, 2) == 1   # pixel left
    assert plane_code_to_distance(10, 4) == 9   # (-1, 1)
    assert plane_code_to_distance(10, 121) == 1  # raw distance + 120
    assert plane_code_to_distance(10, 500) == 380


# ---------------------------------------------------------------------------
# hand-assembled decode vectors
# ---------------------------------------------------------------------------


def test_decode_simple_codes_literals():
    """2×1, literal pixels (10,20,30) and (10,200,30), all simple codes."""
    bw = BitWriter()
    _header(bw, 2, 1)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta prefix codes
    _simple_code(bw, [20, 200])  # green
    _simple_code(bw, [10])       # red
    _simple_code(bw, [30])       # blue
    _simple_code(bw, [255])      # alpha
    _simple_code(bw, [0])        # distance
    bw.write(0, 1)  # pixel 0: green code 0 → 20
    bw.write(1, 1)  # pixel 1: green code 1 → 200
    out = decode_vp8l(bw.getvalue())
    assert out.tolist() == [[[10, 20, 30], [10, 200, 30]]]


def _normal_green_code(bw: BitWriter, symbols: list[int]) -> dict[int, tuple[int, int]]:
    """Hand-write a NORMAL prefix code over the green alphabet giving
    each symbol in ``symbols`` an equal-length code; returns sym→(len,
    code) for emitting data bits. Uses the code-length code with
    literal lengths only and an explicit max_symbol."""
    bw.write(0, 1)  # not simple
    bw.write(19 - 4, 4)  # transmit all 19 code-length-code lengths
    L = max(1, (len(symbols) - 1).bit_length())
    clc = {0: 1, L: 1} if L != 0 else {}
    for s in _CLC_ORDER:
        bw.write(clc.get(s, 0), 3)
    clc_codes = canonical_codes([clc.get(s, 0) for s in range(19)])
    bw.write(1, 1)  # explicit max_symbol
    bw.write(7, 3)  # length_nbits = 2 + 2*7 = 16
    max_symbol = max(symbols) + 1
    bw.write(max_symbol - 2, 16)
    lengths = [L if s in symbols else 0 for s in range(max_symbol)]
    for l in lengths:
        ln, code = clc_codes[l]
        for j in range(ln - 1, -1, -1):  # MSB-first
            bw.write((code >> j) & 1, 1)
    return canonical_codes(
        [L if s in symbols else 0 for s in range(max_symbol)]
    )


def _emit(bw: BitWriter, codes: dict[int, tuple[int, int]], sym: int) -> None:
    ln, code = codes[sym]
    for j in range(ln - 1, -1, -1):
        bw.write((code >> j) & 1, 1)


def test_decode_lz77_plane_code_vertical_copy():
    """2×2: two literals then copy(len=2, plane code 1 = pixel above)."""
    bw = BitWriter()
    _header(bw, 2, 2)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    # green alphabet: literal 20 and length-symbol 257 (length code 1 → 2)
    codes = _normal_green_code(bw, [20, 257])
    _simple_code(bw, [10])   # red
    _simple_code(bw, [30])   # blue
    _simple_code(bw, [255])  # alpha
    _simple_code(bw, [0])    # distance: prefix code 0 → value 1 → plane 1
    _emit(bw, codes, 20)   # pixel 0 literal
    _emit(bw, codes, 20)   # pixel 1 literal
    _emit(bw, codes, 257)  # copy, length prefix 1 → length 2, no extra
    # distance simple 1-symbol code: zero data bits; plane 1 → dist = w = 2
    out = decode_vp8l(bw.getvalue())
    assert out.tolist() == [[[10, 20, 30]] * 2] * 2


def test_decode_color_cache_hit():
    """1×2: literal then a cache-hit symbol reproducing it."""
    argb = (255 << 24) | (1 << 16) | (2 << 8) | 3
    idx = ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> 31  # cache_bits = 1
    bw = BitWriter()
    _header(bw, 2, 1)
    bw.write(0, 1)  # no transforms
    bw.write(1, 1)  # color cache present
    bw.write(1, 4)  # cache_bits = 1
    bw.write(0, 1)  # no meta
    cache_sym = 256 + 24 + idx
    codes = _normal_green_code(bw, [2, cache_sym])
    _simple_code(bw, [1])
    _simple_code(bw, [3])
    _simple_code(bw, [255])
    _simple_code(bw, [0])
    _emit(bw, codes, 2)          # literal (255,1,2,3); inserted into cache
    _emit(bw, codes, cache_sym)  # cache hit
    out = decode_vp8l(bw.getvalue())
    assert out.tolist() == [[[1, 2, 3], [1, 2, 3]]]


def test_decode_subtract_green_inverse():
    """1×1 with subtract-green: stored (r'=100, g=50, b'=200) →
    (150, 50, 250)."""
    bw = BitWriter()
    _header(bw, 1, 1)
    bw.write(1, 1)  # a transform follows
    bw.write(2, 2)  # subtract green
    bw.write(0, 1)  # end of transforms
    bw.write(0, 1)
    bw.write(0, 1)
    _simple_code(bw, [50])
    _simple_code(bw, [100])
    _simple_code(bw, [200])
    _simple_code(bw, [255])
    _simple_code(bw, [0])
    out = decode_vp8l(bw.getvalue())
    assert out.tolist() == [[[150, 50, 250]]]


def test_decode_color_indexing_with_bundling():
    """4×1, 2-color palette → 1-bit pixels bundled 8-per-byte; index
    pattern 0,1,1,0 packed LSB-first into the green channel (0b0110)."""
    bw = BitWriter()
    _header(bw, 4, 1)
    bw.write(1, 1)  # a transform follows
    bw.write(3, 2)  # color indexing
    bw.write(1, 8)  # n_colors - 1 = 1
    # palette entropy image (2×1), delta-coded:
    #   c0 = ARGB(255,255,0,0)  c1 = ARGB(255,0,255,0) → delta (0,1,255,0)
    bw.write(0, 1)  # palette image: no color cache
    _simple_code(bw, [0, 255])   # green: c0 g=0, delta g=255
    _simple_code(bw, [255, 1])   # red: c0 r=255, delta r=1
    _simple_code(bw, [0])        # blue
    _simple_code(bw, [255, 0])   # alpha: 255 then delta 0
    _simple_code(bw, [0])        # distance
    bw.write(0, 1)  # px0 green=0
    bw.write(0, 1)  # px0 red=255
    bw.write(0, 1)  # px0 alpha=255
    bw.write(1, 1)  # px1 green=255
    bw.write(1, 1)  # px1 red=1
    bw.write(1, 1)  # px1 alpha=0
    bw.write(0, 1)  # end of transforms
    # main image at packed width ceil(4/8)=1
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    _simple_code(bw, [0b0110])  # green carries the packed indices
    _simple_code(bw, [0])
    _simple_code(bw, [0])
    _simple_code(bw, [255])
    _simple_code(bw, [0])
    out = decode_vp8l(bw.getvalue())
    assert out.tolist() == [[[255, 0, 0], [0, 255, 0], [0, 255, 0], [255, 0, 0]]]


def test_decode_predictor_transform():
    """2×2 with a single predictor tile, mode 2 (top). Residuals are
    hand-picked so the edges (L on the top row, T on the left column)
    and the tile mode reconstruct (10,20,30) (11,21,31) / (11,21,31)
    (12,22,32)."""
    bw = BitWriter()
    _header(bw, 2, 2)
    bw.write(1, 1)  # a transform follows
    bw.write(0, 2)  # predictor
    bw.write(0, 3)  # size_bits = 2 → one 4×4 tile covers the image
    # tile sub-image (1×1): mode in the green channel
    bw.write(0, 1)  # no color cache
    _simple_code(bw, [2])    # green = predictor mode 2 (T)
    _simple_code(bw, [0])    # red
    _simple_code(bw, [0])    # blue
    _simple_code(bw, [255])  # alpha
    _simple_code(bw, [0])    # distance
    bw.write(0, 1)  # end of transforms
    # residual image
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    _simple_code(bw, [20, 1])  # green residuals
    _simple_code(bw, [10, 1])  # red
    _simple_code(bw, [30, 1])  # blue
    _simple_code(bw, [0])      # alpha residual (always 0)
    _simple_code(bw, [0])      # distance
    for bits in [(0, 0, 0), (1, 1, 1), (1, 1, 1), (1, 1, 1)]:
        for b in bits:
            bw.write(b, 1)
    out = decode_vp8l(bw.getvalue())
    assert out.tolist() == [
        [[10, 20, 30], [11, 21, 31]],
        [[11, 21, 31], [12, 22, 32]],
    ]


def test_decode_color_transform():
    """2×1 with one cross-color tile: green_to_blue = 4 (stored in the
    tile pixel's green byte), others 0. Stored (r=50, g=16, b=100) →
    b' = 100 + (int8(4)*int8(16))>>5 = 102."""
    bw = BitWriter()
    _header(bw, 2, 1)
    bw.write(1, 1)
    bw.write(1, 2)  # cross-color transform
    bw.write(0, 3)  # size_bits = 2
    bw.write(0, 1)  # tile image: no cache
    _simple_code(bw, [4])    # green byte: green_to_blue
    _simple_code(bw, [0])    # red byte: red_to_blue
    _simple_code(bw, [0])    # blue byte: green_to_red
    _simple_code(bw, [255])
    _simple_code(bw, [0])
    bw.write(0, 1)  # end of transforms
    bw.write(0, 1)
    bw.write(0, 1)
    _simple_code(bw, [16])   # green
    _simple_code(bw, [50])   # red
    _simple_code(bw, [100])  # blue
    _simple_code(bw, [255])
    _simple_code(bw, [0])
    out = decode_vp8l(bw.getvalue())
    assert out.tolist() == [[[50, 16, 102], [50, 16, 102]]]


# ---------------------------------------------------------------------------
# encoder round trips + container
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("subtract_green", [False, True])
def test_roundtrip_images(subtract_green):
    rng = np.random.default_rng(7)
    images = [
        np.full((16, 16, 3), 123, np.uint8),                 # flat → runs
        np.tile(rng.integers(0, 256, (1, 20, 3), dtype=np.uint8).astype(np.uint8),
                (12, 1, 1)),                                 # vertical copies
        rng.integers(0, 256, (32, 32, 3)).astype(np.uint8),  # full-alphabet noise
        np.arange(13 * 7 * 3, dtype=np.uint8).reshape(13, 7, 3) % 251,
        np.zeros((1, 1, 3), np.uint8),
    ]
    for img in images:
        out = decode_webp(encode_webp(img, subtract_green=subtract_green))
        assert np.array_equal(out, img)


def test_uniform_noise_equal_length_codes():
    """Uniform bytes push every literal alphabet toward equal code
    lengths — the lone-code-length-symbol edge in the code-length code."""
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (64, 64, 3)).astype(np.uint8)
    assert np.array_equal(decode_webp(encode_webp(img)), img)


def test_package_merge_kraft_complete():
    rng = np.random.default_rng(1)
    for n in (2, 3, 16, 200, 256):
        freqs = {i: int(f) for i, f in enumerate(rng.integers(1, 1000, n))}
        lengths = _package_merge(freqs, 15)
        assert max(lengths.values()) <= 15
        assert sum(2 ** -l for l in lengths.values()) == 1.0


def test_container_sniff_and_dispatch():
    img = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    buf = encode_webp(img)
    assert codecs.sniff(buf) == "webp"
    assert np.array_equal(codecs.decode_image(buf), img)


def test_vp8x_walk_and_lossy_rejection():
    img = np.full((2, 2, 3), 9, np.uint8)
    payload = encode_webp(img)[12:]  # the VP8L chunk
    vp8x = b"VP8X" + struct.pack("<I", 10) + b"\x00" * 10
    buf = b"RIFF" + struct.pack("<I", 4 + len(vp8x) + len(payload)) + b"WEBP" + vp8x + payload
    assert np.array_equal(decode_webp(buf), img)

    lossy = b"RIFF" + struct.pack("<I", 16) + b"WEBP" + b"VP8 " + struct.pack("<I", 4) + b"\x00" * 4
    with pytest.raises(codecs.CodecUnavailable):
        decode_webp(lossy)


def test_corrupt_webp_maps_to_codec_unavailable():
    good = encode_webp(np.full((3, 3, 3), 5, np.uint8))
    with pytest.raises(codecs.CodecUnavailable):
        codecs.decode_image(good[:20])  # truncated behind a valid magic