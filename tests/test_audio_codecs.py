"""G.711 μ-law / A-law + IMA ADPCM codec tests.

Ground truth comes from OUTSIDE the code under test: the published
G.711 table endpoints (μ-law peaks ±32124, A-law ±32256, A-law minimum
magnitude 8, μ-law's two zero codes 0x7F/0xFF), an exhaustive
encode∘decode == identity check over all 256 wire codes (a property
forced by the spec's quantization-lattice construction, not by our
implementation), and a hand-stepped IMA ADPCM nibble sequence computed
manually in the comments below from the IMA 1992 step/index tables."""

from __future__ import annotations

import numpy as np
import pytest

from dataflow_mm_lrt_spark.functions import audio_codecs as ac
from dataflow_mm_lrt_spark.functions import codecs
from media_fixtures import (
    alaw_encode,
    encode_wav_g711,
    encode_wav_ima,
    ima_encode_samples,
    mulaw_encode,
)


# ---------------------------------------------------------------------------
# G.711 hand vectors (published table values)
# ---------------------------------------------------------------------------

def test_mulaw_published_endpoints():
    assert ac.mulaw_decode(np.array([0x80]))[0] == 32124   # max positive
    assert ac.mulaw_decode(np.array([0x00]))[0] == -32124  # max negative
    # μ-law famously has two zero codes (positive and negative zero)
    assert ac.mulaw_decode(np.array([0xFF]))[0] == 0
    assert ac.mulaw_decode(np.array([0x7F]))[0] == 0


def test_alaw_published_endpoints():
    assert ac.alaw_decode(np.array([0xAA]))[0] == 32256    # max positive
    assert ac.alaw_decode(np.array([0x2A]))[0] == -32256   # max negative
    # smallest nonzero A-law magnitude is 8 (1 in the 13-bit domain)
    assert ac.alaw_decode(np.array([0xD5]))[0] == 8
    assert ac.alaw_decode(np.array([0x55]))[0] == -8


def test_g711_lattice_idempotence_exhaustive():
    codes = np.arange(256, dtype=np.uint8)
    # μ-law: 0x7F and 0xFF both decode to 0; the canonical encoder maps
    # 0 → 0xFF, so skip the redundant negative-zero code
    mu = codes[codes != 0x7F]
    assert np.array_equal(mulaw_encode(ac.mulaw_decode(mu)), mu)
    assert mulaw_encode(ac.mulaw_decode(np.array([0x7F])))[0] == 0xFF
    assert np.array_equal(alaw_encode(ac.alaw_decode(codes)), codes)


def test_g711_quantization_error_bounded():
    rng = np.random.default_rng(7)
    x = rng.integers(-32768, 32768, 4096).astype(np.int16)
    for enc, dec, bias in ((mulaw_encode, ac.mulaw_decode, 132),
                           (alaw_encode, ac.alaw_decode, 0)):
        err = np.abs(dec(enc(x)).astype(np.int64) - x)
        # step size in segment e is 2^(e+3) ≤ (|x|+bias+step)/16 — allow
        # one full step plus the A-law 13-bit floor
        bound = np.maximum(16, (np.abs(x.astype(np.int64)) + bias) / 14)
        assert np.all(err <= bound), int(err.max())


def test_mulaw_encode_clips_at_spec_limit():
    # values past the μ-law clip point (32635) all land on the peak code
    assert mulaw_encode(np.array([32635, 32700, 32767])).tolist() == [
        0x80, 0x80, 0x80]


# ---------------------------------------------------------------------------
# IMA ADPCM
# ---------------------------------------------------------------------------

def test_ima_hand_stepped_vector():
    # Hand computation from the IMA tables (step_table[0]=7,
    # step_table[7]=14, step_table[8]=16; index_table[2]=-1,
    # index_table[7]=8, index_table[0]=-1, index_table[15]=8):
    #   n=2: diff = 7>>3 + 7>>1 = 0+3 = 3   → pred 3,  idx 0-1→0
    #   n=7: diff = 0 + 7>>2 + 7>>1 + 7 = 1+3+7 = 11 → pred 14? no:
    #        pred 3+11 = 14 — wait, recompute: diff = (7>>3)=0 base,
    #        +1 (n&1) +3 (n&2) +7 (n&4) = 11 → pred 3+11 = 14, idx 0+8=8
    #   n=0: step 16, diff = 16>>3 = 2 → pred 16, idx 8-1=7
    #   n=15: step 14, diff = 1+3+7+14 = 25, sign → pred 16-25 = -9,
    #         idx 7+8 = 15
    out = ac.ima_decode_nibbles(np.array([2, 7, 0, 15]), 0, 0)
    assert out.tolist() == [3, 14, 16, -9]


def test_ima_encode_decode_roundtrip_snr():
    rng = np.random.default_rng(11)
    t = np.arange(8000)
    x = (6000 * np.sin(2 * np.pi * 440 * t / 8000)
         + 800 * rng.standard_normal(8000)).astype(np.int16)
    nibs, _, _ = ima_encode_samples(x[1:], int(x[0]), 0)
    y = np.concatenate([[x[0]], ac.ima_decode_nibbles(nibs, int(x[0]), 0)])
    err = (y.astype(np.float64) - x.astype(np.float64))
    snr = 10 * np.log10(np.mean(x.astype(np.float64) ** 2)
                        / max(np.mean(err ** 2), 1e-9))
    assert snr > 20, snr


# ---------------------------------------------------------------------------
# WAV container integration (decode_wav format-tag dispatch)
# ---------------------------------------------------------------------------

def _sine(n=3000, rate=8000, f=300, amp=9000, ch=1):
    t = np.arange(n)
    x = (amp * np.sin(2 * np.pi * f * t / rate)).astype(np.int16)
    if ch == 2:
        x = np.stack([x, (x // 2).astype(np.int16)], axis=1)
    return x


@pytest.mark.parametrize("law,tag", [("mulaw", 7), ("alaw", 6)])
@pytest.mark.parametrize("ch", [1, 2])
def test_wav_g711_roundtrip(law, tag, ch):
    dec_lut = ac.mulaw_decode if law == "mulaw" else ac.alaw_decode
    # samples already on the companding lattice → exact round trip
    lattice = dec_lut(np.arange(256, dtype=np.uint8))
    x = np.tile(lattice, 4).astype(np.int16)
    if ch == 2:
        x = np.stack([x, x[::-1]], axis=1)
    buf = encode_wav_g711(x, 8000, law=law)
    got, rate = codecs.decode_wav(buf)
    assert rate == 8000
    assert got.shape == (x.shape[0], ch)
    assert np.array_equal(got.reshape(-1, ch),
                          x.reshape(-1, ch) if x.ndim == 2 else x[:, None])


@pytest.mark.parametrize("ch", [1, 2])
def test_wav_ima_adpcm_roundtrip(ch):
    x = _sine(n=3001, ch=ch)  # non-multiple of block → exercises fact trim
    buf = encode_wav_ima(x, 8000)
    got, rate = codecs.decode_wav(buf)
    assert rate == 8000
    x2 = x if x.ndim == 2 else x[:, None]
    assert got.shape == x2.shape  # fact chunk trimmed the padded tail
    err = got.astype(np.float64) - x2.astype(np.float64)
    snr = 10 * np.log10(np.mean(x2.astype(np.float64) ** 2)
                        / max(np.mean(err ** 2), 1e-9))
    assert snr > 20, snr


def test_wav_pcm_width_variants():
    x = _sine(n=256)
    # 8-bit unsigned PCM
    raw8 = ((x.astype(np.int32) >> 8) + 128).astype(np.uint8)
    import struct

    def container(tag, ch, rate, block, bits, data, extra=b""):
        fmt = struct.pack("<HHIIHH", tag, ch, rate, rate * block, block,
                          bits) + extra
        return (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
                + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)

    got8, _ = codecs.decode_wav(container(1, 1, 8000, 1, 8, raw8.tobytes()))
    assert np.array_equal(got8[:, 0], (raw8.astype(np.int16) - 128) << 8)

    # 24-bit signed PCM: int16 << 8 into the top bytes → exact recovery
    v24 = x.astype(np.int32) << 8
    b24 = bytearray()
    for v in v24:
        b24 += int(v & 0xFFFFFF).to_bytes(3, "little")
    got24, _ = codecs.decode_wav(container(1, 1, 8000, 3, 24, bytes(b24)))
    assert np.array_equal(got24[:, 0], x)

    # 32-bit signed PCM
    v32 = (x.astype(np.int32) << 16).astype("<i4")
    got32, _ = codecs.decode_wav(container(1, 1, 8000, 4, 32, v32.tobytes()))
    assert np.array_equal(got32[:, 0], x)

    # float32 PCM
    f32 = (x.astype(np.float64) / 32767.0).astype("<f4")
    gotf, _ = codecs.decode_wav(container(3, 1, 8000, 4, 32, f32.tobytes()))
    assert np.abs(gotf[:, 0].astype(np.int64) - x.astype(np.int64)).max() <= 1

    # WAVE_FORMAT_EXTENSIBLE wrapping μ-law: SubFormat GUID first 2 bytes
    codes = mulaw_encode(x)
    guid = struct.pack("<H", 7) + b"\x00\x00" + bytes(12)
    extra = struct.pack("<HHI", 22, 8, 1) + guid
    gote, _ = codecs.decode_wav(
        container(0xFFFE, 1, 8000, 1, 8, codes.tobytes(), extra=extra))
    assert np.array_equal(gote[:, 0], ac.mulaw_decode(codes))


def test_decode_audio_dispatches_companded_wav():
    x = ac.mulaw_decode(np.arange(256, dtype=np.uint8)).astype(np.int16)
    buf = encode_wav_g711(x, 8000, law="mulaw")
    got, rate = codecs.decode_audio(buf)
    assert rate == 8000 and np.array_equal(got[:, 0], x)
