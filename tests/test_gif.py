"""GIF codec validation — non-circular where it matters.

The LZW kernel is checked against a HAND-DERIVED vector: the code
sequence below was produced by executing the GIF89a LZW algorithm on
paper (clear code, dictionary growth, the 3→4-bit width bump), and the
bitstream is packed by an independent test-side packer implementing
the spec's LSB-first packing rule. Both directions are pinned:
``lzw_decode`` must recover the indices and ``lzw_encode`` must emit
the exact hand-packed bytes. Container behavior (compositing,
transparency, disposal, interlace) is pinned with hand-assembled GIF
byte streams.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dataflow_mm_lrt_spark.functions import codecs
from dataflow_mm_lrt_spark.functions.gif import (
    decode_gif_first_frame,
    encode_gif,
    iter_gif_frames,
    lzw_decode,
    lzw_encode,
)
from media_fixtures import encode_ppm


# -- independent LSB-first bit packer (spec rule, NOT the codec code) --

def _pack_codes(codes_and_widths: list[tuple[int, int]]) -> bytes:
    acc = nbits = 0
    out = bytearray()
    for code, width in codes_and_widths:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# Hand-executed LZW, min_code_size=2, on indices 1 1 1 1 1 2 2 2 2 2:
#   clear=4 end=5; emit clear(3b); '1'→code1 (dict 11→6); '11'→code6
#   (dict 111→7); '11'→code6 (dict 112→8, width→4); '2'→code2 (dict
#   22→9); '22'→code9 (dict 222→10); '22'→code9; end(4b).
_HAND_DATA = bytes([1, 1, 1, 1, 1, 2, 2, 2, 2, 2])
_HAND_CODES = [(4, 3), (1, 3), (6, 3), (6, 3),
               (2, 4), (9, 4), (9, 4), (5, 4)]


def test_lzw_decode_hand_vector():
    assert lzw_decode(_pack_codes(_HAND_CODES), 2) == _HAND_DATA


def test_lzw_encode_hand_vector():
    assert lzw_encode(_HAND_DATA, 2) == _pack_codes(_HAND_CODES)


@settings(max_examples=40, deadline=None)
@given(st.integers(2, 8), st.binary(min_size=0, max_size=2000), st.integers(0, 4))
def test_lzw_roundtrip_property(mcs, raw, rep):
    data = bytes(b % (1 << mcs) for b in raw) * (rep + 1)
    assert lzw_decode(lzw_encode(data, mcs), mcs) == data


def test_lzw_dictionary_reset_at_4096():
    # >4096 distinct sequences forces the mid-stream clear-code path
    rng = np.random.default_rng(3)
    data = rng.integers(0, 256, 60000).astype(np.uint8).tobytes()
    assert lzw_decode(lzw_encode(data, 8), 8) == data


# -- container round-trips ---------------------------------------------------

def test_single_frame_roundtrip():
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (13, 17, 3)).astype(np.uint8)
    # clamp to ≤256 distinct colors by quantizing the low bits away
    img &= 0xE0
    out = decode_gif_first_frame(encode_gif(img))
    np.testing.assert_array_equal(out, img)


def test_animation_roundtrip_frames_and_delay():
    frames = [np.full((4, 6, 3), v, dtype=np.uint8) for v in (10, 40, 90)]
    got = list(iter_gif_frames(encode_gif(frames, delay_cs=7)))
    assert len(got) == 3
    for (frame, delay), want in zip(got, frames):
        np.testing.assert_array_equal(frame, want)
        assert delay == 7


def test_encoder_rejects_over_256_colors():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (32, 32, 3)).astype(np.uint8)
    with pytest.raises(ValueError, match="256"):
        encode_gif(img)


# -- hand-assembled containers (compositing semantics) -----------------------

def _blocks(payload: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(payload), 255):
        part = payload[i : i + 255]
        out.append(len(part))
        out += part
    out.append(0)
    return bytes(out)


def _image_block(left, top, w, h, indices, min_code=2, flags=0):
    return (
        b"\x2c"
        + struct.pack("<HHHHB", left, top, w, h, flags)
        + bytes([min_code])
        + _blocks(lzw_encode(bytes(indices), min_code))
    )


def _header(w, h, palette):
    # palette: list of (r,g,b); padded to a power-of-two table
    bits = max(1, (len(palette) - 1).bit_length())
    table = list(palette) + [(0, 0, 0)] * ((1 << bits) - len(palette))
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
        + b"".join(bytes(c) for c in table)
    )


PAL = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]


def test_transparency_preserves_underlying_pixels():
    # frame 1 paints the 2x2 canvas solid red; frame 2 paints index 2
    # (green) on the left column and transparent index 3 on the right —
    # the right column must still show frame 1's red.
    gce = b"\x21\xf9" + _blocks(struct.pack("<BHB", 0x01, 0, 3))  # transp idx 3
    buf = (
        _header(2, 2, PAL)
        + _image_block(0, 0, 2, 2, [1, 1, 1, 1])
        + gce
        + _image_block(0, 0, 2, 2, [2, 3, 2, 3])
        + b"\x3b"
    )
    frames = [f for f, _ in iter_gif_frames(buf)]
    assert len(frames) == 2
    np.testing.assert_array_equal(frames[0], np.tile([255, 0, 0], (2, 2, 1)))
    want = np.array(
        [[[0, 255, 0], [255, 0, 0]], [[0, 255, 0], [255, 0, 0]]], np.uint8
    )
    np.testing.assert_array_equal(frames[1], want)


def test_subrect_offset_compositing():
    # frame 2 paints only the bottom-right 1x1 sub-rectangle
    buf = (
        _header(2, 2, PAL)
        + _image_block(0, 0, 2, 2, [1, 1, 1, 1])
        + _image_block(1, 1, 1, 1, [2])
        + b"\x3b"
    )
    frames = [f for f, _ in iter_gif_frames(buf)]
    np.testing.assert_array_equal(frames[1][0, 0], [255, 0, 0])
    np.testing.assert_array_equal(frames[1][1, 1], [0, 255, 0])


def test_disposal_restore_background():
    # disposal=2 on frame 1: after frame 1 is shown, its rect reverts
    # to the background color (index 0 = black) before frame 2 paints.
    gce = b"\x21\xf9" + _blocks(struct.pack("<BHB", 2 << 2, 0, 0))
    buf = (
        _header(2, 1, PAL)
        + gce
        + _image_block(0, 0, 2, 1, [1, 1])
        + _image_block(0, 0, 1, 1, [2])
        + b"\x3b"
    )
    frames = [f for f, _ in iter_gif_frames(buf)]
    np.testing.assert_array_equal(frames[0], [[[255, 0, 0], [255, 0, 0]]])
    np.testing.assert_array_equal(frames[1], [[[0, 255, 0], [0, 0, 0]]])


def test_interlaced_rows_reordered():
    # h=5, w=1: interlace pass order emits source rows 0,4,2,1,3; the
    # decoder must put them back in display order.
    # each display row y gets palette index y % 4
    rows_in_pass_order = [y % 4 for y in (0, 4, 2, 1, 3)]
    buf = (
        _header(1, 5, PAL)
        + _image_block(0, 0, 1, 5, rows_in_pass_order, flags=0x40)
        + b"\x3b"
    )
    (frame, _), = list(iter_gif_frames(buf))
    got_rows = [
        PAL.index(tuple(frame[y, 0].tolist())) for y in range(5)
    ]
    assert got_rows == [0, 1, 2, 3, 0]


def test_local_color_table_overrides_global():
    # local table swaps red/green relative to the global one
    local = b"".join(
        bytes(c) for c in [(0, 0, 0), (0, 255, 0), (255, 0, 0), (0, 0, 255)]
    )
    img = (
        b"\x2c"
        + struct.pack("<HHHHB", 0, 0, 1, 1, 0x80 | 0x01)  # LCT, 4 entries
        + local
        + bytes([2])
        + _blocks(lzw_encode(bytes([1]), 2))
    )
    buf = _header(1, 1, PAL) + img + b"\x3b"
    (frame, _), = list(iter_gif_frames(buf))
    np.testing.assert_array_equal(frame[0, 0], [0, 255, 0])


# -- dispatch + operator integration ----------------------------------------

def test_decode_image_dispatch():
    img = np.full((3, 3, 3), 77, dtype=np.uint8)
    buf = encode_gif(img)
    assert codecs.sniff(buf) == "gif"
    np.testing.assert_array_equal(codecs.decode_image(buf), img)


def test_corrupt_gif_raises_codec_unavailable():
    with pytest.raises(codecs.CodecUnavailable):
        codecs.decode_image(b"GIF89a garbage that is not a gif")


def test_iter_video_frames_gif_and_ppm():
    frames = [np.full((2, 2, 3), v, dtype=np.uint8) for v in (1, 2, 3)]
    got = list(codecs.iter_video_frames(encode_gif(frames)))
    assert len(got) == 3
    np.testing.assert_array_equal(got[1], frames[1])
    ppm_stream = b"".join(encode_ppm(f) for f in frames)
    got2 = list(codecs.iter_video_frames(ppm_stream))
    assert len(got2) == 3
    np.testing.assert_array_equal(got2[2], frames[2])


def test_iter_video_frames_real_gif_video():
    frames = [np.full((4, 4, 3), 10 * (i + 1), dtype=np.uint8) for i in range(6)]
    got = list(codecs.iter_video_frames(encode_gif(frames)))
    assert len(got) == 6
    for img, want in zip(got, frames):
        np.testing.assert_array_equal(img, want)


def test_probe_gif_matches_full_decode():
    """video_info's metadata probe must report exactly what the full
    canvas decode reports — frame count, logical-screen dims and the
    per-frame delay sequence — across variable-delay animations,
    single-frame GIFs (no GCE → delay 0) and the mediagen container
    rotation, without touching the LZW pixel data."""
    from dataflow_mm_lrt_spark import mediagen
    from dataflow_mm_lrt_spark.functions.gif import probe_gif

    def full(buf):
        pairs = list(iter_gif_frames(buf))
        h, w = pairs[0][0].shape[:2]
        return len(pairs), w, h, [d for _, d in pairs]

    frames = [np.full((10, 12, 3), c, dtype=np.uint8) for c in (0, 80, 160, 240)]
    var = encode_gif(frames, delay_cs=[1, 7, 0, 13])
    assert probe_gif(var) == full(var)
    single = encode_gif(frames[0])
    assert probe_gif(single) == full(single)
    for seed in range(0, 40):
        if seed % 5 in (2, 4):  # AVI/MP4 ids — not GIFs
            continue
        buf = mediagen.synth_video(seed)
        assert probe_gif(buf) == full(buf)
    with pytest.raises(codecs.CodecUnavailable):
        probe_gif(b"not a gif at all")
