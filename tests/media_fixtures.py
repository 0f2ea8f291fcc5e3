"""Test inputs for the media decoders.

The package decodes; these build the bytes it decodes and the oracles
its tests check against. They are fixtures, not product: no contract
query, pipeline, benchmark or tool reaches them.

* encoders: progressive JPEG (SOF2, any scan script), G.711 μ-law /
  A-law and IMA ADPCM samples and their WAV containers, PPM;
* spec oracles: 64-bit Hamming distance, VP8L prefix-value decode;
* media DataFrames for the ``extract_features`` stage tests.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from dataflow_mm_lrt_spark.functions.audio_codecs import (
    _MULAW_BIAS,
    IMA_INDEX_TABLE,
    IMA_STEP_TABLE,
)
from dataflow_mm_lrt_spark.functions.codecs import encode_wav
from dataflow_mm_lrt_spark.functions.jpeg import (
    ZIGZAG,
    _BitWriter,
    _category,
    _comp_block_grid,
    _prepare_coefficients,
    build_codes,
    optimal_table,
)
from dataflow_mm_lrt_spark.functions.webp import BitReader


# ---------------------------------------------------------------------------
# G.711 and IMA ADPCM encoders (Sun g711.c; IMA rev 3.00)
# ---------------------------------------------------------------------------

_MULAW_CLIP = 32635
# segment end thresholds for the biased magnitude (exp = #ends crossed)
_MULAW_SEG_ENDS = np.array([0x100, 0x200, 0x400, 0x800, 0x1000, 0x2000, 0x4000],
                           dtype=np.int64)


def mulaw_encode(samples: np.ndarray) -> np.ndarray:
    """int16 linear → uint8 μ-law codes (Sun g711.c semantics)."""
    x = np.asarray(samples, dtype=np.int64)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), _MULAW_CLIP) + _MULAW_BIAS
    exp = np.searchsorted(_MULAW_SEG_ENDS, mag, side="right")
    mant = (mag >> (exp + 3)) & 0x0F
    return (~(sign | (exp << 4) | mant) & 0xFF).astype(np.uint8)


# segment ends on the 13-bit magnitude (sample >> 3), Sun g711.c seg_aend
_ALAW_SEG_ENDS = np.array([0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF],
                          dtype=np.int64)


def alaw_encode(samples: np.ndarray) -> np.ndarray:
    """int16 linear → uint8 A-law codes (Sun g711.c semantics)."""
    x = np.asarray(samples, dtype=np.int64) >> 3  # 13-bit domain
    mask = np.where(x >= 0, 0xD5, 0x55)
    mag = np.where(x >= 0, x, -x - 1)
    seg = np.searchsorted(_ALAW_SEG_ENDS, mag, side="left")
    # seg == 8 means magnitude out of range → peak code
    shift = np.where(seg < 2, 1, np.maximum(seg, 1))
    aval = np.where(
        seg >= 8, 0x7F, (np.minimum(seg, 7) << 4) | ((mag >> shift) & 0x0F)
    )
    return ((aval ^ mask) & 0xFF).astype(np.uint8)


def ima_encode_samples(
    samples: np.ndarray, predictor: int, index: int
) -> tuple[np.ndarray, int, int]:
    """Standard IMA encoder: returns (nibbles uint8, predictor', index')."""
    nibbles = np.empty(len(samples), dtype=np.uint8)
    pred = int(predictor)
    idx = int(index)
    step_t = IMA_STEP_TABLE
    index_t = IMA_INDEX_TABLE
    for i, s in enumerate(np.asarray(samples, dtype=np.int64)):
        step = int(step_t[idx])
        delta = int(s) - pred
        n = 0
        if delta < 0:
            n = 8
            delta = -delta
        if delta >= step:
            n |= 4
            delta -= step
        if delta >= step >> 1:
            n |= 2
            delta -= step >> 1
        if delta >= step >> 2:
            n |= 1
        # reconstruct exactly as the decoder will
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
        nibbles[i] = n
    return nibbles, pred, idx


def ima_adpcm_encode(
    samples: np.ndarray, rate: int, samples_per_block: int = 505
) -> tuple[bytes, int, int]:
    """(n, ch) int16 → (raw format-0x11 data bytes, block_align,
    samples_per_block). samples_per_block counts the header sample;
    (samples_per_block - 1) must be a multiple of 8 so blocks pack
    whole channel words."""
    samples = np.asarray(samples, dtype=np.int16)
    if samples.ndim == 1:
        samples = samples[:, None]
    n, channels = samples.shape
    if (samples_per_block - 1) % 8 != 0:
        raise ValueError("samples_per_block - 1 must be divisible by 8")
    block_align = 4 * channels + (samples_per_block - 1) // 2 * channels
    blocks = []
    idx = [0] * channels
    for start in range(0, n, samples_per_block):
        chunk = samples[start:start + samples_per_block]
        if len(chunk) < samples_per_block:  # zero-pad the tail block
            pad = np.zeros((samples_per_block - len(chunk), channels),
                           dtype=np.int16)
            chunk = np.vstack([chunk, pad])
        headers = b""
        ch_words = []
        for ch in range(channels):
            pred = int(chunk[0, ch])
            headers += pred.to_bytes(2, "little", signed=True) + bytes(
                [idx[ch], 0]
            )
            nibs, _, idx[ch] = ima_encode_samples(chunk[1:, ch], pred, idx[ch])
            packed = (nibs[0::2] | (nibs[1::2] << 4)).astype(np.uint8)
            ch_words.append(packed.reshape(-1, 4))
        # interleave channel words: L0 R0 L1 R1 ...
        inter = np.stack(ch_words, axis=1).reshape(-1)
        blocks.append(headers + inter.tobytes())
    return b"".join(blocks), block_align, samples_per_block

# ---------------------------------------------------------------------------
# WAV and PPM containers
# ---------------------------------------------------------------------------

def encode_ppm(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        img.astype(np.uint8)
    ).tobytes()


def _wav_container(fmt: bytes, data: bytes, fact: int | None = None) -> bytes:
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if fact is not None:
        chunks += b"fact" + struct.pack("<II", 4, fact)
    chunks += b"data" + struct.pack("<I", len(data)) + data
    if len(data) & 1:
        chunks += b"\x00"  # word alignment pad
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def encode_wav_g711(samples: np.ndarray, rate: int, law: str = "mulaw") -> bytes:
    """int16 samples → G.711-companded WAV (format tag 7=μ-law, 6=A-law).
    One byte per sample; the non-PCM fmt carries cbSize=0 and a fact
    chunk, per the RIFF/WAVE registration."""
    samples = np.asarray(samples, dtype=np.int16)
    if samples.ndim == 1:
        samples = samples[:, None]
    channels = samples.shape[1]
    if law == "mulaw":
        tag, codes = 7, mulaw_encode(samples.reshape(-1))
    elif law == "alaw":
        tag, codes = 6, alaw_encode(samples.reshape(-1))
    else:
        raise ValueError(f"unknown companding law {law!r}")
    fmt = struct.pack("<HHIIHHH", tag, channels, rate, rate * channels,
                      channels, 8, 0)
    return _wav_container(fmt, codes.tobytes(), fact=samples.shape[0])


def encode_wav_ima(
    samples: np.ndarray, rate: int, samples_per_block: int = 505
) -> bytes:
    """int16 samples → IMA ADPCM WAV (format tag 0x11): ~4:1 compressed,
    per-block per-channel predictor headers, fact chunk carrying the
    true sample count so decode drops tail-block padding."""
    samples = np.asarray(samples, dtype=np.int16)
    if samples.ndim == 1:
        samples = samples[:, None]
    n, channels = samples.shape
    data, block_align, spb = ima_adpcm_encode(samples, rate,
                                              samples_per_block)
    blocks_per_sec = (rate + spb - 1) // spb
    fmt = struct.pack("<HHIIHHHH", 0x11, channels, rate,
                      blocks_per_sec * block_align, block_align, 4, 2, spb)
    return _wav_container(fmt, data, fact=n)

# ---------------------------------------------------------------------------
# progressive JPEG encoder (SOF2, spectral selection + successive approximation)
# ---------------------------------------------------------------------------

class _ScanEmitter:
    """Two-pass entropy emitter for one progressive scan: record
    symbol/raw-bit events, build the optimal Huffman table from the
    symbol stats, then serialize. EOB runs and their buffered
    correction bits are deferred exactly as T.81 G.1.2.2/G.1.2.3
    prescribe (libjpeg's emit_eobrun discipline)."""

    def __init__(self) -> None:
        self.events: list[tuple[str, int, int]] = []  # (kind, a, b)
        self.eobrun = 0
        self.be: list[int] = []  # correction bits buffered with the EOB run

    def sym(self, s: int) -> None:
        self.events.append(("sym", s, 0))

    def bits(self, val: int, n: int) -> None:
        if n:
            self.events.append(("bits", val, n))

    def flush_eobrun(self) -> None:
        if self.eobrun > 0:
            n = self.eobrun.bit_length() - 1
            self.sym(n << 4)
            self.bits(self.eobrun - (1 << n), n)
            self.eobrun = 0
        for b in self.be:
            self.bits(b, 1)
        self.be = []

    def bump_eobrun(self, block_bits: list[int]) -> None:
        self.eobrun += 1
        self.be.extend(block_bits)
        if self.eobrun == 0x7FFF:
            self.flush_eobrun()


def _ac_reduced(zz: np.ndarray, k: int, al: int) -> int:
    """AC point transform (T.81 G.1.2.2): sign-preserving magnitude
    shift — NOT an arithmetic shift, which would floor negatives."""
    v = int(zz[k])
    return -((-v) >> al) if v < 0 else v >> al


def _encode_ac_first_block(
    em: _ScanEmitter, zz: np.ndarray, Ss: int, Se: int, Al: int
) -> None:
    vals = [_ac_reduced(zz, k, Al) for k in range(Ss, Se + 1)]
    if not any(vals):
        em.bump_eobrun([])
        return
    em.flush_eobrun()
    r = 0
    last = max(i for i, v in enumerate(vals) if v)
    for i, v in enumerate(vals[: last + 1]):
        if v == 0:
            r += 1
            continue
        while r > 15:
            em.sym(0xF0)
            r -= 16
        s = _category(v)
        em.sym((r << 4) | s)
        em.bits(v if v >= 0 else v + (1 << s) - 1, s)
        r = 0
    if last < len(vals) - 1:
        em.bump_eobrun([])


def _encode_ac_refine_block(
    em: _ScanEmitter, zz: np.ndarray, Ss: int, Se: int, Al: int
) -> None:
    """T.81 G.1.2.3 (libjpeg encode_mcu_AC_refine): newly significant
    coefficients emit (run, 1) + sign; history-nonzero coefficients
    append correction bits after the next emitted symbol (or travel
    with the EOB run)."""
    band = list(range(Ss, Se + 1))
    t = [abs(_ac_reduced(zz, k, Al)) for k in band]
    eob = 0  # index past the last newly-significant coefficient
    for i, v in enumerate(t):
        if v == 1:
            eob = i + 1
    r = 0
    br: list[int] = []
    for i, k in enumerate(band):
        if t[i] == 0:
            r += 1
            continue
        while r > 15 and i < eob:
            em.flush_eobrun()
            em.sym(0xF0)
            r -= 16
            for b in br:
                em.bits(b, 1)
            br = []
        if t[i] > 1:
            br.append(t[i] & 1)
            continue
        em.flush_eobrun()
        em.sym((r << 4) | 1)
        em.bits(1 if int(zz[k]) > 0 else 0, 1)
        for b in br:
            em.bits(b, 1)
        br = []
        r = 0
    if r > 0 or br:
        em.bump_eobrun(br)


def encode_jpeg_progressive(
    img: np.ndarray,
    quality: int = 90,
    subsample: str = "444",
    scans: list[tuple[tuple[int, ...], int, int, int, int]] | None = None,
) -> bytes:
    """Encode (H, W, 3) or (H, W) uint8 as progressive JPEG (SOF2).

    ``scans`` is the scan script: (component indices, Ss, Se, Ah, Al)
    per scan. The default script exercises every decoder path —
    interleaved DC first with a successive-approximation bit held back,
    split AC spectral bands, two AC refinement passes, and the final DC
    refinement. The coefficients are identical to :func:`encode_jpeg`'s
    at the same (quality, subsample), so a progressive decode must
    equal the baseline decode bit-for-bit — the cross-check
    tests/test_jpeg.py relies on."""
    h, w, comp_coefs, samp, qsel, qts, mcux, mcuy = _prepare_coefficients(
        img, quality, subsample
    )
    ncomp = len(comp_coefs)
    if scans is None:
        if ncomp == 1:
            scans = [
                ((0,), 0, 0, 0, 1),
                ((0,), 1, 5, 0, 2),
                ((0,), 6, 63, 0, 2),
                ((0,), 1, 63, 2, 1),
                ((0,), 1, 63, 1, 0),
                ((0,), 0, 0, 1, 0),
            ]
        else:
            scans = [
                ((0, 1, 2), 0, 0, 0, 1),
                ((0,), 1, 5, 0, 2),
                ((1,), 1, 63, 0, 1),
                ((2,), 1, 63, 0, 1),
                ((0,), 6, 63, 0, 2),
                ((0,), 1, 63, 2, 1),
                ((0,), 1, 63, 1, 0),
                ((1,), 1, 63, 1, 0),
                ((2,), 1, 63, 1, 0),
                ((0, 1, 2), 0, 0, 1, 0),
            ]

    out = bytearray(b"\xff\xd8")
    for qi in sorted(set(qsel)):
        zz = qts[qi][ZIGZAG].astype(np.uint8).tobytes()
        out += b"\xff\xdb" + struct.pack(">HB", 67, qi) + zz
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for ci in range(ncomp):
        out += bytes([ci + 1, (samp[ci][0] << 4) | samp[ci][1], qsel[ci]])

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)

    for comp_ix, Ss, Se, Ah, Al in scans:
        needs_huff = not (Ss == 0 and Ah > 0)  # DC refinement is raw bits
        tsel = {ci: (0 if ci == 0 else 1) for ci in comp_ix}
        # ONE global event stream per scan — events from different
        # Huffman tables interleave in MCU order, so the symbol is
        # tagged with its table id and serialization walks the stream
        # once. freqs accumulate per table.
        events: list[tuple[int, int, int]] = []  # (tid|-1 raw, a, b)
        freqs: dict[int, dict[int, int]] = {t: {} for t in set(tsel.values())}

        def sym(tid: int, s: int) -> None:
            events.append((tid, s, -1))
            freqs[tid][s] = freqs[tid].get(s, 0) + 1

        def bits(val: int, n: int) -> None:
            if n:
                events.append((-1, val, n))

        if Ss == 0:  # DC scan (interleaved over the MCU grid)
            pred = {ci: 0 for ci in comp_ix}
            for m in range(mcux * mcuy):
                my, mx = divmod(m, mcux)
                for ci in comp_ix:
                    hi, vi = samp[ci]
                    for v in range(vi):
                        for hh in range(hi):
                            dc = int(comp_coefs[ci][my * vi + v, mx * hi + hh][0])
                            if Ah == 0:
                                red = dc >> Al  # arithmetic: T.81 G.1.2.1
                                diff = red - pred[ci]
                                pred[ci] = red
                                s = _category(diff)
                                sym(tsel[ci], s)
                                bits(
                                    diff if diff >= 0 else diff + (1 << s) - 1, s
                                )
                            else:
                                bits((dc >> Al) & 1, 1)
        else:  # AC scan: single component, its own block raster
            (ci,) = comp_ix
            hi, vi = samp[ci]
            bh, bw = _comp_block_grid(h, w, hi, vi, hmax, vmax)
            em = _ScanEmitter()
            for u in range(bh * bw):
                by, bx = divmod(u, bw)
                zz = comp_coefs[ci][by, bx]
                if Ah == 0:
                    _encode_ac_first_block(em, zz, Ss, Se, Al)
                else:
                    _encode_ac_refine_block(em, zz, Ss, Se, Al)
            em.flush_eobrun()
            tid = tsel[ci]
            for kind, a, b in em.events:
                if kind == "sym":
                    sym(tid, a)
                else:
                    bits(a, b)

        # DHT for this scan (skipped for raw-bit DC refinement), then
        # SOS + one entropy stream in original event order
        codes: dict[int, dict[int, tuple[int, int]]] = {}
        if needs_huff:
            tc = 0 if Ss == 0 else 1
            for tid in sorted(freqs):
                f = freqs[tid] or {0: 1}
                tbits, huffval = optimal_table(f)
                codes[tid] = build_codes(tbits, huffval)
                out += b"\xff\xc4" + struct.pack(
                    ">HB", 19 + len(huffval), (tc << 4) | tid
                )
                out += bytes(tbits) + bytes(huffval)
        writer = _BitWriter()
        for tid, a, b in events:
            if tid >= 0:
                code, length = codes[tid][a]
                writer.write(code, length)
            else:
                writer.write(a, b)
        writer.pad_to_byte()

        out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comp_ix), len(comp_ix))
        for ci in comp_ix:
            t = tsel[ci] if needs_huff else 0
            tc_dc = t if Ss == 0 else 0
            tc_ac = t if Ss > 0 else 0
            out += bytes([ci + 1, (tc_dc << 4) | tc_ac])
        out += bytes([Ss, Se, (Ah << 4) | Al])
        out += writer.out
    out += b"\xff\xd9"
    return bytes(out)

# ---------------------------------------------------------------------------
# spec oracles
# ---------------------------------------------------------------------------

def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def prefix_value(br: BitReader, code: int) -> int:
    """Length/distance prefix decode (VP8L spec §4.2.2): codes 0..3 are
    the literal values 1..4; above that each pair of codes doubles the
    range with (code-2)>>1 extra bits."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.bits(extra) + 1

# ---------------------------------------------------------------------------
# media DataFrames
# ---------------------------------------------------------------------------

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),        # image | audio | video
        StructField("content", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)


def real_media_df(spark, n: int = 24) -> DataFrame:
    """Deterministic REAL media fixture: PPM images, PCM16 WAV audio,
    concatenated-P6 raw video — decodable by functions/codecs.py with
    no libraries."""
    rows = []
    for i in range(n):
        rng = np.random.default_rng(1000 + i)
        kind = ["image", "audio", "video"][i % 3]
        if kind == "image":
            img = rng.integers(0, 256, size=(8 + i, 6 + i, 3), dtype=np.uint8)
            content, w, h, dur = encode_ppm(img), img.shape[1], img.shape[0], 0
            mime = "image/x-portable-pixmap"
        elif kind == "audio":
            samples = (rng.normal(0, 3000, size=(800 + 10 * i, 2))).astype(np.int16)
            content, w, h, dur = encode_wav(samples, 16000), 0, 0, len(samples) * 1000 // 16000
            mime = "audio/wav"
        else:
            frames = [
                rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
                for _ in range(3 + i % 4)
            ]
            content = b"".join(encode_ppm(f) for f in frames)
            w, h, dur = 5, 6, len(frames) * 40
            mime = "video/x-raw-ppm"
        rows.append((f"m{i:05d}", kind, content, mime, w, h, dur))
    return spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["media_id", "kind", "content", "mime", "width",
                     "height", "duration_ms"],
        ),
        schema=MEDIA_SCHEMA,
    )


def fake_media_df(spark, n: int = 64) -> DataFrame:
    """Deterministic binary media fixture."""
    rows = pd.DataFrame(
        {
            "media_id": [f"m{i:05d}" for i in range(n)],
            "kind": [["image", "audio", "video"][i % 3] for i in range(n)],
            "content": [bytes([i % 251]) * (100 + i) for i in range(n)],
            "mime": ["application/octet-stream"] * n,
            "width": [16 + i for i in range(n)],
            "height": [16 + i for i in range(n)],
            "duration_ms": [1000 + i for i in range(n)],
        }
    )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
