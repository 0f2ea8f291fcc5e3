"""Compressed-audio sample codecs: G.711 (μ-law / A-law) and IMA ADPCM.

The reference decodes audio through ``soundfile``/ffmpeg (which accept
any WAV companding format — utils/utils.py:27's generic media loading);
this module makes the common telephony/companded WAV variants real with
zero native deps, exactly as functions/png.py / gif.py / jpeg.py did
for images. Everything below is implemented from the public specs:

* G.711 μ-law / A-law — ITU-T Recommendation G.711 (1988), using the
  de-facto 16-bit linear mapping of the classic Sun Microsystems
  ``g711.c`` (public domain), the same tables every libc ``audio/basic``
  and WAV format-6/7 implementation agrees on: μ-law peaks at ±32124,
  A-law at ±32256, both laws are exact on their own decode lattice
  (``encode(decode(c)) == c`` for all 256 codes — tested exhaustively).
* IMA / DVI4 ADPCM — the IMA "Recommended Practices for Enhancing
  Digital Audio Compatibility" (rev 3.00, 1992) step/index tables and
  the WAV container block layout (format tag 0x11) from the Microsoft
  multimedia registration: per-block per-channel 4-byte state header
  (predictor int16, step index uint8), then nibble pairs low-first,
  stereo interleaved in 4-byte (8-nibble) channel words.

This module decodes only. The encoders that build compressed test
WAVs live with the tests (tests/media_fixtures.py). Decode is
vectorized (256-entry LUTs for G.711; ADPCM's inherently sequential
predictor loop runs per block over numpy nibble arrays).
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# G.711 μ-law
# ---------------------------------------------------------------------------

_MULAW_BIAS = 0x84  # 132


def _mulaw_decode_table() -> np.ndarray:
    codes = np.arange(256, dtype=np.int64)
    c = ~codes & 0xFF
    sign = (c & 0x80) != 0
    exp = (c >> 4) & 0x07
    mant = c & 0x0F
    mag = (((mant << 3) + _MULAW_BIAS) << exp) - _MULAW_BIAS
    return np.where(sign, -mag, mag).astype(np.int16)


MULAW_DECODE = _mulaw_decode_table()


def mulaw_decode(codes: np.ndarray) -> np.ndarray:
    """uint8 G.711 μ-law codes → int16 linear (±32124 peak)."""
    return MULAW_DECODE[np.asarray(codes, dtype=np.uint8)]


# ---------------------------------------------------------------------------
# G.711 A-law
# ---------------------------------------------------------------------------


def _alaw_decode_table() -> np.ndarray:
    codes = np.arange(256, dtype=np.int64)
    c = codes ^ 0x55
    mant = (c & 0x0F) << 4
    seg = (c >> 4) & 0x07
    mag = np.where(seg == 0, mant + 8, (mant + 0x108) << np.maximum(seg - 1, 0))
    # A-law sign bit SET means positive in the G.711 wire convention
    return np.where((c & 0x80) != 0, mag, -mag).astype(np.int16)


ALAW_DECODE = _alaw_decode_table()


def alaw_decode(codes: np.ndarray) -> np.ndarray:
    """uint8 G.711 A-law codes → int16 linear (±32256 peak)."""
    return ALAW_DECODE[np.asarray(codes, dtype=np.uint8)]


# ---------------------------------------------------------------------------
# IMA / DVI4 ADPCM (WAV format tag 0x11)
# ---------------------------------------------------------------------------

IMA_STEP_TABLE = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
], dtype=np.int64)

IMA_INDEX_TABLE = np.array([-1, -1, -1, -1, 2, 4, 6, 8,
                            -1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int64)


def ima_decode_nibbles(
    nibbles: np.ndarray, predictor: int, index: int
) -> np.ndarray:
    """Sequential IMA predictor over a nibble array → int16 samples
    (one per nibble; the block-header predictor sample is emitted by
    the WAV-layer caller, not here)."""
    out = np.empty(len(nibbles), dtype=np.int16)
    pred = int(predictor)
    idx = int(index)
    step_t = IMA_STEP_TABLE
    index_t = IMA_INDEX_TABLE
    for i, n in enumerate(np.asarray(nibbles, dtype=np.int64)):
        step = int(step_t[idx])
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        pred = pred - diff if n & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + int(index_t[n])))
        out[i] = pred
    return out


def ima_adpcm_decode_block(block: bytes, channels: int) -> np.ndarray:
    """One WAV format-0x11 block → (n_samples, channels) int16.

    Layout per the IMA/Microsoft registration: per channel a 4-byte
    header (predictor int16 LE — which IS the first output sample —
    step index uint8, reserved), then the nibble data in 4-byte
    channel words (8 nibbles each, low nibble first), channels
    interleaved word-by-word."""
    if len(block) < 4 * channels:
        raise ValueError("ADPCM block shorter than its headers")
    preds, idxs = [], []
    for ch in range(channels):
        off = 4 * ch
        pred = int.from_bytes(block[off:off + 2], "little", signed=True)
        idx = block[off + 2]
        if idx > 88:
            raise ValueError(f"ADPCM step index {idx} out of range")
        preds.append(pred)
        idxs.append(idx)
    data = np.frombuffer(block, dtype=np.uint8)[4 * channels:]
    # truncate to whole channel-word groups
    group = 4 * channels
    data = data[: len(data) // group * group]
    lo = data & 0x0F
    hi = data >> 4
    nib_all = np.empty(len(data) * 2, dtype=np.uint8)
    nib_all[0::2] = lo
    nib_all[1::2] = hi
    per_word = 8  # nibbles per 4-byte channel word
    words = nib_all.reshape(-1, channels, per_word)  # (word_groups, ch, 8)
    out_cols = []
    for ch in range(channels):
        nibs = words[:, ch, :].reshape(-1)
        decoded = ima_decode_nibbles(nibs, preds[ch], idxs[ch])
        out_cols.append(np.concatenate([[np.int16(preds[ch])], decoded]))
    return np.stack(out_cols, axis=1)
