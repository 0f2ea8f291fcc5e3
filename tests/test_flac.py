"""FLAC codec tests.

The decoder features the in-repo encoder never emits (LPC prediction,
mid/side / left/side / right/side decorrelation, Rice2 params,
multi-partition residuals, escape partitions, wasted bits) are pinned
with HAND-ASSEMBLED bitstreams: the test file carries its own
independent MSB-first bit writer and bit-serial CRC-8/CRC-16 (shift
register form, not the codec's table form), and every expected sample
value is hand-derived in comments from the spec's reconstruction
formulas. Round-trips of the in-repo encoder and the optional
soundfile parity check cover the rest.
"""

from __future__ import annotations

import numpy as np
import pytest

from dataflow_mm_lrt_spark.functions import codecs
from dataflow_mm_lrt_spark.functions.flac import decode_flac, encode_flac


# --- independent bit writer + bit-serial CRCs (not the codec's) -----------

class TW:
    def __init__(self):
        self.bits: list[int] = []

    def w(self, value: int, n: int):
        for i in range(n - 1, -1, -1):
            self.bits.append((value >> i) & 1)
        return self

    def done(self) -> bytes:
        bits = self.bits + [0] * (-len(self.bits) % 8)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def crc8_ref(data: bytes) -> int:
    c = 0
    for byte in data:
        for i in range(7, -1, -1):
            top = (c >> 7) & 1
            c = (c << 1) & 0xFF
            if top ^ ((byte >> i) & 1):
                c ^= 0x07
    return c


def crc16_ref(data: bytes) -> int:
    c = 0
    for byte in data:
        for i in range(7, -1, -1):
            top = (c >> 15) & 1
            c = (c << 1) & 0xFFFF
            if top ^ ((byte >> i) & 1):
                c ^= 0x8005
    return c


def streaminfo(rate=8000, ch=1, bps=16, total=0) -> bytes:
    w = TW()
    w.w(16, 16).w(16, 16).w(0, 24).w(0, 24)
    w.w(rate, 20).w(ch - 1, 3).w(bps - 1, 5).w(total, 36)
    body = w.done() + b"\x00" * 16  # zero MD5 → decoder skips the check
    return b"fLaC" + bytes([0x80]) + len(body).to_bytes(3, "big") + body


def frame(bs: int, ch_code: int, body_bits: TW, fno: int = 0) -> bytes:
    """Header (block-size code 6 = 8-bit follow-up, rate code 4 = 8 kHz,
    16-bit samples, fixed blocking) + CRC-8, body, pad, CRC-16."""
    h = TW()
    h.w(0x3FFE, 14).w(0, 1).w(0, 1)
    h.w(6, 4).w(4, 4)          # bs follows as 8-bit; rate = 8000
    h.w(ch_code, 4).w(4, 3).w(0, 1)  # 16-bit sample size
    h.w(fno, 8).w(bs - 1, 8)
    hdr = h.done()
    hdr += bytes([crc8_ref(hdr)])
    body = body_bits.done()
    return hdr + body + crc16_ref(hdr + body).to_bytes(2, "big")


# --- hand-assembled decoder feature vectors -------------------------------

def test_lpc_subframe_hand_vector():
    # LPC order 1, precision 4, shift 2, coefficient 5, warm-up 10,
    # residuals [3, -1, 2] rice-coded with k=2:
    #   out1 = 3 + (5*10 >> 2) = 3 + 12 = 15
    #   out2 = -1 + (5*15 >> 2) = -1 + 18 = 17
    #   out3 = 2 + (5*17 >> 2) = 2 + 21 = 23
    b = TW()
    b.w(0, 1).w(32, 6).w(0, 1)          # subframe: LPC order 1
    b.w(10, 16)                          # warm-up
    b.w(3, 4)                            # precision - 1
    b.w(2, 5)                            # shift (signed)
    b.w(5, 4)                            # coefficient
    b.w(0, 2).w(0, 4).w(2, 4)            # rice method 0, porder 0, k=2
    # zigzag(3)=6: q=1 rem=2 → 01|10 ; zigzag(-1)=1: q=0 rem=1 → 1|01 ;
    # zigzag(2)=4: q=1 rem=0 → 01|00
    b.w(0b01, 2).w(0b10, 2)
    b.w(0b1, 1).w(0b01, 2)
    b.w(0b01, 2).w(0b00, 2)
    buf = streaminfo(total=4) + frame(4, ch_code=0, body_bits=b)
    got, rate = decode_flac(buf)
    assert rate == 8000
    assert got[:, 0].tolist() == [10, 15, 17, 23]


def test_mid_side_hand_vector():
    # L=[4,2], R=[2,4] → mid=(L+R)>>1=[3,3] (CONSTANT), side=L-R=[2,-2]
    # (VERBATIM, 17-bit). Reconstruction: m2=(3<<1)|(side&1)=6;
    # L=(6+2)>>1=4, R=(6-2)>>1=2; then side=-2 → L=2, R=4.
    b = TW()
    b.w(0, 1).w(0, 6).w(0, 1).w(3, 16)               # mid: CONSTANT 3
    b.w(0, 1).w(1, 6).w(0, 1)                         # side: VERBATIM
    b.w(2, 17).w((-2) & 0x1FFFF, 17)
    buf = streaminfo(ch=2, total=2) + frame(2, ch_code=10, body_bits=b)
    got, _ = decode_flac(buf)
    assert got.tolist() == [[4, 2], [2, 4]]


def test_left_side_hand_vector():
    # left=[7,7] CONSTANT, side=L-R=[3,-3] VERBATIM 17-bit → R=[4,10]
    b = TW()
    b.w(0, 1).w(0, 6).w(0, 1).w(7, 16)
    b.w(0, 1).w(1, 6).w(0, 1)
    b.w(3, 17).w((-3) & 0x1FFFF, 17)
    buf = streaminfo(ch=2, total=2) + frame(2, ch_code=8, body_bits=b)
    got, _ = decode_flac(buf)
    assert got.tolist() == [[7, 4], [7, 10]]


def test_right_side_hand_vector():
    # side=L-R=[5,-5] VERBATIM 17-bit, right=[2,2] CONSTANT → L=[7,-3]
    b = TW()
    b.w(0, 1).w(1, 6).w(0, 1)
    b.w(5, 17).w((-5) & 0x1FFFF, 17)
    b.w(0, 1).w(0, 6).w(0, 1).w(2, 16)
    buf = streaminfo(ch=2, total=2) + frame(2, ch_code=9, body_bits=b)
    got, _ = decode_flac(buf)
    assert got.tolist() == [[7, 2], [-3, 2]]


def test_rice2_multipartition_with_escape():
    # FIXED order 0 (residual IS the signal), Rice2 (5-bit params),
    # partition order 1 → two partitions of 2 samples.
    # Partition 0: k=0, values [1,-2] → zigzag [2,3] → unary 001, 0001.
    # Partition 1: escape (param 31), width 6, raw [-20, 9].
    b = TW()
    b.w(0, 1).w(8, 6).w(0, 1)            # FIXED order 0
    b.w(1, 2).w(1, 4)                    # method 1 (rice2), porder 1
    b.w(0, 5)                            # partition 0: k=0
    b.w(0b001, 3).w(0b0001, 4)
    b.w(31, 5).w(6, 5)                   # partition 1: escape, width 6
    b.w((-20) & 0x3F, 6).w(9, 6)
    buf = streaminfo(total=4) + frame(4, ch_code=0, body_bits=b)
    got, _ = decode_flac(buf)
    assert got[:, 0].tolist() == [1, -2, -20, 9]


def test_wasted_bits_shift():
    # CONSTANT subframe with wasted-bits flag set, unary count 0 →
    # 1 wasted bit: value read at 15 bits (21) → output 21 << 1 = 42
    b = TW()
    b.w(0, 1).w(0, 6).w(1, 1).w(1, 1)    # wasted flag, unary "1" → 1
    b.w(21, 15)
    buf = streaminfo(total=2) + frame(2, ch_code=0, body_bits=b)
    got, _ = decode_flac(buf)
    assert got[:, 0].tolist() == [42, 42]


def test_frame_crc16_corruption_detected():
    b = TW()
    b.w(0, 1).w(0, 6).w(0, 1).w(99, 16)
    buf = bytearray(streaminfo(total=2) + frame(2, ch_code=0, body_bits=b))
    buf[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC-16"):
        decode_flac(bytes(buf))


def test_header_crc8_corruption_detected():
    b = TW()
    b.w(0, 1).w(0, 6).w(0, 1).w(99, 16)
    f = frame(2, ch_code=0, body_bits=b)
    si = streaminfo(total=2)
    # corrupt a header byte (the channel/bps byte) and refresh nothing
    bad = bytearray(si + f)
    bad[len(si) + 3] ^= 0x02
    with pytest.raises(ValueError):
        decode_flac(bytes(bad))


# --- encoder round trips + conformance ------------------------------------

def test_encoder_roundtrip_multiframe_stereo():
    rng = np.random.default_rng(5)
    t = np.arange(10000)
    x = np.stack(
        [
            (11000 * np.sin(2 * np.pi * 220 * t / 8000)).astype(np.int16),
            rng.integers(-500, 500, 10000).astype(np.int16),
        ],
        axis=1,
    )
    buf = encode_flac(x, 8000)
    got, rate = decode_flac(buf)
    assert rate == 8000 and np.array_equal(got, x)
    assert len(buf) < x.nbytes  # actually compresses


def test_encoder_md5_detects_tamper():
    x = (3000 * np.sin(2 * np.pi * 330 * np.arange(6000) / 8000)).astype(
        np.int16
    )
    buf = bytearray(encode_flac(x, 8000))
    buf[len(buf) // 2] ^= 0x10  # flip a bit mid-frame
    with pytest.raises(ValueError):
        decode_flac(bytes(buf))


def test_encoder_matches_soundfile_if_present():
    soundfile = pytest.importorskip("soundfile")
    import io

    x = (9000 * np.sin(2 * np.pi * 500 * np.arange(9000) / 8000)).astype(
        np.int16
    )
    data, rate = soundfile.read(io.BytesIO(encode_flac(x, 8000)),
                                dtype="int16", always_2d=True)
    assert rate == 8000 and np.array_equal(data[:, 0], x)


# --- dispatch + mediagen rotation ------------------------------------------

def test_decode_audio_dispatches_flac():
    x = np.arange(-400, 400, dtype=np.int16)
    got, rate = codecs.decode_audio(encode_flac(x, 8000))
    assert rate == 8000 and np.array_equal(got[:, 0], x)
    assert codecs.sniff(encode_flac(x, 8000)) == "flac"


def test_mediagen_audio_rotation_is_lossless():
    from dataflow_mm_lrt_spark import mediagen

    kinds = set()
    for i in range(8):
        buf = mediagen.audio_bytes(i)
        kinds.add(codecs.sniff(buf))
        want, rate_w = mediagen.synth_audio(i)
        got, rate = codecs.decode_audio(buf)
        assert rate == rate_w and np.array_equal(got, want), i
    assert kinds == {"wav", "flac"}  # both containers exercised


# --- hypothesis properties ---------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=25, deadline=None)
@given(
    data=st.lists(st.integers(-32768, 32767), min_size=1, max_size=6000),
    ch=st.integers(1, 2),
    block=st.sampled_from([4096]),
)
def test_flac_roundtrip_property(data, ch, block):
    x = np.array(data, dtype=np.int16)
    if ch == 2:
        x = np.stack([x, x[::-1]], axis=1)
    buf = encode_flac(x, 8000, block=block)
    got, rate = decode_flac(buf)
    want = x if x.ndim == 2 else x[:, None]
    assert rate == 8000 and np.array_equal(got, want)


def test_crc16_gather_matches_byte_loop():
    """The vectorized distance-table crc16 (r7) must equal the per-byte
    table loop on both sides of the 32-byte gate, including the lazy
    table growth across calls of increasing length."""
    import numpy as np

    from dataflow_mm_lrt_spark.functions import flac

    tbl = flac._CRC16_LIST

    def ref(data: bytes) -> int:
        c = 0
        for b in data:
            c = tbl[((c >> 8) ^ b) & 0xFF] ^ ((c << 8) & 0xFFFF)
        return c

    rng = np.random.default_rng(11)
    for n in [0, 1, 31, 32, 33, 100, 1500, 1500, 7000, 300]:
        data = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        assert flac.crc16(data) == ref(data), n


def test_crc16_table_capped_on_long_messages():
    """Messages longer than the distance table's cap fold in capped
    chunks: the CRC still equals the bit-serial reference (including a
    short tail below the 32-byte gather gate), and the module-global
    table stops growing at the cap instead of at the longest message."""
    from dataflow_mm_lrt_spark.functions import flac

    cap = flac._CRC16_DIST_MAX
    rng = np.random.default_rng(23)
    for n in [cap, cap + 1, cap + 31, 2 * cap + 500, 3 * cap + 7]:
        data = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        assert flac.crc16(data) == crc16_ref(data), n
    assert len(flac._CRC16_DIST) == cap
