"""Pure-numpy JPEG codec (ITU T.81, 8-bit Huffman).

With PNG (functions/png.py) and GIF (functions/gif.py) this completes
zero-native-dependency decode of the three dominant still-image wire
formats. Coverage: baseline + extended-sequential (SOF0/SOF1) AND
progressive (SOF2, round 6) with arbitrary sampling factors (4:4:4 /
4:2:2 / 4:2:0 / grayscale), multiple DQT/DHT segments, restart
markers, spectral-selection bands, successive-approximation DC/AC
first + refinement passes, and cross-block EOB runs. Arithmetic
coding, lossless/differential modes, and 12-bit precision raise
``CodecUnavailable`` — the PIL import-try in functions/codecs.py
remains the upgrade path for those and for bulk-throughput decode
(the entropy loop here is honest Python: correct everywhere, fast
enough for fixtures and spot-decodes, not for 100 TB of camera
photos).

The baseline encoder ``encode_jpeg`` (quality-scaled Annex-K
quantization, optional 4:2:0 subsampling; mediagen's JPEG source) and
the progressive test encoder in tests/media_fixtures.py, which shares
its coefficient preparation, build optimal per-image Huffman tables
with the spec's reserved-all-ones rule instead of hardcoding the
Annex-K defaults — every table the decoder needs is read from the
stream itself, so codec correctness never depends on a transcribed
constant table.

Validation (tests/test_jpeg.py) follows the repo's inverse-pair
pattern: the DCT/IDCT matrices are checked against an independent
naive double-sum implementation of the spec formulas, the zigzag
table against an algorithmic diagonal walk, canonical Huffman
assignment against a hand-built BITS/HUFFVAL vector, plus encoder→
decoder round-trips with analytic error bounds (quality 100 ⇒ unit
quantizers ⇒ max pixel error from rounding alone). The progressive
path is pinned two independent ways: byte-for-byte decode equality
with the baseline path on identical coefficients (the multi-scan
reassembly), and the analytic DC-only truncation property (a lone DC
scan decodes to exact blockwise means).

Reference parity: the reference loads images via PIL
(utils/utils.py: _load_image); here decode_jpeg + operators/
multimodal.py meet the same contract without native libraries.
"""

from __future__ import annotations

import struct

import numpy as np

from .codecs import CodecUnavailable

# natural (row-major) positions in zigzag scan order — T.81 Figure A.6
ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

# Annex K.1 example quantization tables (luminance / chrominance)
QUANT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
])
QUANT_CHROM = np.array(
    [17, 18, 24, 47, 99, 99, 99, 99,
     18, 21, 26, 66, 99, 99, 99, 99,
     24, 26, 56, 99, 99, 99, 99, 99,
     47, 66, 99, 99, 99, 99, 99, 99] + [99] * 32
)


def dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix: forward F = C @ f @ C.T."""
    k = np.arange(8).reshape(-1, 1)
    n = np.arange(8).reshape(1, -1)
    c = np.where(k == 0, 1 / np.sqrt(2.0), 1.0)
    return 0.5 * c * np.cos((2 * n + 1) * k * np.pi / 16)


_C = dct_matrix()


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map t received bits to a signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


# ---------------------------------------------------------------------------
# canonical Huffman
# ---------------------------------------------------------------------------

def build_codes(bits: list[int], huffval: list[int]) -> dict[int, tuple[int, int]]:
    """T.81 Annex C canonical assignment: BITS (count per length 1..16)
    + HUFFVAL (symbols in order) → {symbol: (code, length)}."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def optimal_table(freqs: dict[int, int]) -> tuple[list[int], list[int]]:
    """Length-limited (16) Huffman code for the observed symbols with
    the spec's reserved all-ones codepoint: a pseudo-symbol of lowest
    frequency is carried through assignment pinned to the largest code,
    then dropped (T.81 K.2's reservation, by construction)."""
    DUMMY = 0x10000
    items = {**{s: f for s, f in freqs.items() if f > 0}, DUMMY: 1}
    # Huffman depths via repeated merge (sorted list: deterministic)
    forest: list[tuple[int, int, list[int]]] = sorted(
        (f, s, [s]) for s, f in items.items()
    )
    depth = {s: 0 for s in items}
    while len(forest) > 1:
        (f1, _, m1), (f2, _, m2) = forest[0], forest[1]
        for s in m1 + m2:
            depth[s] += 1
        merged = (f1 + f2, min(forest[0][1], forest[1][1]), m1 + m2)
        forest = sorted(forest[2:] + [merged])
    lengths = {s: min(max(d, 1), 16) for s, d in depth.items()}
    # clamping >16 can violate Kraft; lengthening the shortest code by
    # one bit shrinks the sum fastest and always converges (≤257
    # symbols fit in 16 bits with huge slack)
    while sum(2.0 ** -l for l in lengths.values()) > 1.0:
        s_min = min(lengths, key=lambda s: (lengths[s], s))
        lengths[s_min] += 1
    # pin the dummy to the deepest level so it takes the last (and, for
    # a complete code, all-ones) canonical code; deepening only helps
    lengths[DUMMY] = max(lengths.values())
    ordered = sorted(
        lengths.items(), key=lambda sl: (sl[1], sl[0] == DUMMY, sl[0])
    )
    bits = [0] * 16
    huffval = []
    for s, l in ordered:
        if s == DUMMY:
            continue  # reserved codepoint: counted in neither BITS nor HUFFVAL
        bits[l - 1] += 1
        huffval.append(s)
    return bits, huffval


# ---------------------------------------------------------------------------
# bit I/O (entropy segment: 0xFF byte-stuffing, restart markers)
# ---------------------------------------------------------------------------

class _BitReader:
    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _load(self) -> None:
        d, p = self.data, self.pos
        if p >= len(d):
            raise ValueError("truncated entropy segment")
        b = d[p]
        if b == 0xFF:
            nxt = d[p + 1] if p + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos = p + 2
            else:
                raise ValueError("ran into marker inside entropy data")
        else:
            self.pos = p + 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def receive(self, n: int) -> int:
        while self.nbits < n:
            self._load()
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def decode(self, lookup: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.receive(1)
            sym = lookup.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")

    def sync_restart(self, n: int) -> None:
        """Byte-align and consume the expected RSTn marker."""
        self.acc = 0
        self.nbits = 0
        d, p = self.data, self.pos
        if d[p] != 0xFF or d[p + 1] != 0xD0 + (n & 7):
            raise ValueError("missing restart marker")
        self.pos = p + 2


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | code
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def pad_to_byte(self) -> None:
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

def _comp_block_grid(
    h: int, w: int, hi: int, vi: int, hmax: int, vmax: int
) -> tuple[int, int]:
    """Non-interleaved scans walk the COMPONENT's own block raster
    (T.81 A.2.2): ceil(comp_dim / 8) on the component's sample grid."""
    cw = -(-w * hi // hmax)
    ch = -(-h * vi // vmax)
    return -(-ch // 8), -(-cw // 8)


def _refine_nonzero(reader: "_BitReader", blk: np.ndarray, z: int, p1: int) -> None:
    """AC successive-approximation correction bit (T.81 G.1.2.3): a
    history-nonzero coefficient consumes one bit; a set bit adds ±p1
    toward larger magnitude if that bit position is still empty."""
    if reader.receive(1):
        v = int(blk[z])
        if (abs(v) & p1) == 0:
            blk[z] = v + p1 if v > 0 else v - p1


def _decode_ac_first(
    reader, blk, Ss: int, Se: int, Al: int, ac_t, eobrun: int
) -> int:
    """One block's AC band, first pass (Ah == 0) — also exactly the
    baseline AC loop: baseline EOB is the r == 0 degenerate case of the
    progressive EOBRUN symbol, so one executor serves both modes."""
    if eobrun > 0:
        return eobrun - 1
    k = Ss
    while k <= Se:
        rs = reader.decode(ac_t)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += reader.receive(r)
            break
        k += r
        blk[ZIGZAG[k]] = _extend(reader.receive(s), s) << Al
        k += 1
    return eobrun


def _decode_ac_refine(
    reader, blk, Ss: int, Se: int, Al: int, ac_t, eobrun: int
) -> int:
    """One block's AC band, refinement pass (Ah == Al + 1) — T.81
    G.1.2.3 / libjpeg decode_mcu_AC_refine structure: newly significant
    coefficients arrive as (run, 1) + sign, history-nonzero
    coefficients consume correction bits along the way, EOB runs still
    carry correction bits for the rest of the band."""
    p1 = 1 << Al
    k = Ss
    if eobrun == 0:
        while k <= Se:
            rs = reader.decode(ac_t)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r < 15:
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += reader.receive(r)
                    break
                val, run = 0, 16  # ZRL: 16 zero-history positions
            else:
                # s is always 1 in a refinement scan: ±(1 << Al)
                val = p1 if reader.receive(1) else -p1
                run = r
            while k <= Se:
                z = int(ZIGZAG[k])
                if blk[z] != 0:
                    _refine_nonzero(reader, blk, z, p1)
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if val and k <= Se:
                blk[int(ZIGZAG[k])] = val
                k += 1
    else:
        eobrun -= 1
        # fall through to the EOB correction sweep from k == Ss
    # EOB reached (by run or by entering with one pending): correction
    # bits for every remaining history-nonzero coefficient in the band
    while k <= Se:
        z = int(ZIGZAG[k])
        if blk[z] != 0:
            _refine_nonzero(reader, blk, z, p1)
        k += 1
    return eobrun


def decode_jpeg(buf: bytes) -> np.ndarray:
    """(H, W, 3) uint8 from a baseline/extended-sequential (SOF0/SOF1)
    or progressive (SOF2) JPEG. Scans only accumulate quantized
    coefficients (persistent across a progressive file's many scans —
    spectral selection bands, successive-approximation first/refine
    passes, interleaved DC + per-component AC); dequantize + IDCT run
    once at EOI, so a truncated progressive stream still reconstructs
    the coarse approximation its received scans define."""
    if buf[:2] != b"\xff\xd8":
        raise CodecUnavailable("not a JPEG (no SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None  # (h, w, comps)  comps: [(cid, hi, vi, tq)]
    progressive = False
    restart_interval = 0
    coefs: dict[int, np.ndarray] = {}
    pred_dc: dict[int, int] = {}

    while pos < len(buf):
        if buf[pos] != 0xFF:
            pos += 1  # fill bytes / padding between segments
            continue
        marker = buf[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", buf[pos : pos + 2])
        seg = buf[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (possibly several tables)
            sp = 0
            while sp < len(seg):
                pq, tq = seg[sp] >> 4, seg[sp] & 15
                sp += 1
                if pq:
                    vals = np.frombuffer(
                        seg[sp : sp + 128], dtype=">u2"
                    ).astype(np.int32)
                    sp += 128
                else:
                    vals = np.frombuffer(
                        seg[sp : sp + 64], dtype=np.uint8
                    ).astype(np.int32)
                    sp += 64
                nat = np.zeros(64, dtype=np.int32)
                nat[ZIGZAG] = vals
                qtables[tq] = nat
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/SOF1/SOF2
            prec, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise CodecUnavailable(f"{prec}-bit JPEG not supported")
            progressive = marker == 0xC2
            comps = []
            for i in range(ncomp):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 15, tq))
            frame = (h, w, comps)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise CodecUnavailable(
                f"JPEG SOF marker 0x{marker:02x} (arithmetic/lossless/"
                "differential) not supported — install PIL"
            )
        elif marker == 0xC4:  # DHT (possibly several tables)
            sp = 0
            while sp < len(seg):
                tc, th = seg[sp] >> 4, seg[sp] & 15
                bits = list(seg[sp + 1 : sp + 17])
                nv = sum(bits)
                huffval = list(seg[sp + 17 : sp + 17 + nv])
                sp += 17 + nv
                codes = build_codes(bits, huffval)
                htables[(tc, th)] = {
                    (length, code): sym for sym, (code, length) in codes.items()
                }
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS → entropy-coded scan follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan = []
            for i in range(ns):
                cs, tt = seg[1 + 2 * i : 3 + 2 * i]
                scan.append((cs, tt >> 4, tt & 15))
            Ss, Se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            Ah, Al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 15
            if not progressive:
                Ss, Se, Ah, Al = 0, 63, 0, 0
            h, w, comps = frame
            by_id = {c[0]: c for c in comps}
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            if not coefs:  # persistent across every scan of the frame
                for cid, hi, vi, _ in comps:
                    coefs[cid] = np.zeros((mcuy * vi, mcux * hi, 64), np.int32)
                    pred_dc[cid] = 0
            reader = _BitReader(buf, pos + seglen)
            for cs, _, _ in scan:
                pred_dc[cs] = 0
            eobrun = 0
            rst = 0

            def _restart():
                nonlocal eobrun, rst
                reader.sync_restart(rst)
                rst = (rst + 1) & 7
                eobrun = 0
                for cs, _, _ in scan:
                    pred_dc[cs] = 0

            if ns == 1:
                # non-interleaved scan: the component's OWN block raster
                # (T.81 A.2.2) — covers progressive DC/AC scans and the
                # spec-legal single-component sequential scan alike
                cs, td, ta = scan[0]
                _, hi, vi, _ = by_id[cs]
                bh, bw = _comp_block_grid(h, w, hi, vi, hmax, vmax)
                dc_t = htables.get((0, td))
                ac_t = htables.get((1, ta))
                band_lo = max(Ss, 1)
                for u in range(bh * bw):
                    if restart_interval and u and u % restart_interval == 0:
                        _restart()
                    by, bx = divmod(u, bw)
                    blk = coefs[cs][by, bx]
                    if Ss == 0:
                        if Ah == 0:
                            t = reader.decode(dc_t)
                            pred_dc[cs] += _extend(reader.receive(t), t)
                            blk[0] = pred_dc[cs] << Al
                        elif reader.receive(1):
                            blk[0] |= 1 << Al
                    if Se >= band_lo:  # AC band present
                        if Ah == 0:
                            eobrun = _decode_ac_first(
                                reader, blk, band_lo, Se, Al, ac_t, eobrun
                            )
                        else:
                            eobrun = _decode_ac_refine(
                                reader, blk, band_lo, Se, Al, ac_t, eobrun
                            )
            else:
                # interleaved MCU order (baseline full scans; progressive
                # DC scans — T.81 forbids interleaved AC scans)
                if progressive and Ss != 0:
                    raise ValueError("interleaved progressive AC scan")
                for m in range(mcux * mcuy):
                    if restart_interval and m and m % restart_interval == 0:
                        _restart()
                    my, mx = divmod(m, mcux)
                    for cs, td, ta in scan:
                        _, hi, vi, _ = by_id[cs]
                        dc_t = htables.get((0, td))
                        ac_t = htables.get((1, ta))
                        for v in range(vi):
                            for hh in range(hi):
                                blk = coefs[cs][my * vi + v, mx * hi + hh]
                                if Ah == 0:
                                    t = reader.decode(dc_t)
                                    diff = _extend(reader.receive(t), t)
                                    pred_dc[cs] += diff
                                    blk[0] = pred_dc[cs] << Al
                                elif reader.receive(1):
                                    blk[0] |= 1 << Al
                                if Se > 0:  # baseline: AC rides along
                                    eobrun = _decode_ac_first(
                                        reader, blk, 1, Se, Al, ac_t, eobrun
                                    )
            pos = reader.pos
            continue
        pos += seglen

    if frame is None or not coefs:
        raise ValueError("no decodable JPEG scan found")
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    # dequantize + IDCT per component, batched — once, at end of stream
    planes: dict[int, np.ndarray] = {}
    for cid, hi, vi, tq in comps:
        c = coefs[cid] * qtables[tq][None, None, :]
        bh, bw = c.shape[:2]
        F = c.reshape(bh, bw, 8, 8).astype(np.float64)
        # batched IDCT as two broadcast matmuls: einsum's single-pass
        # 6-index loop costs ~75 us/call even on a 3x3 block grid (it
        # cannot use BLAS); matmul is ~12x faster. Associativity differs
        # at the 1-ULP level, so equality of the decoded pixels was
        # verified exhaustively over the reachable MJPEG synth space
        # (256 solid colors x {16,24,32}^2 dims, q=95/444): identical.
        f = np.matmul(_C.T, np.matmul(F, _C)) + 128.0
        plane = f.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        # replicate-upsample to full MCU-grid resolution
        plane = np.repeat(
            np.repeat(plane, vmax // vi, axis=0), hmax // hi, axis=1
        )
        planes[cid] = plane[:h, :w]
    if len(planes) == 1:
        y = next(iter(planes.values()))
        rgb = np.repeat(np.clip(y, 0, 255)[..., None], 3, axis=2)
        return (rgb + 0.5).astype(np.uint8)
    cy, cb, cr = (planes[c[0]] for c in comps[:3])
    r = cy + 1.402 * (cr - 128.0)
    g = cy - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = cy + 1.772 * (cb - 128.0)
    return (np.clip(np.stack([r, g, b], axis=2), 0, 255) + 0.5).astype(np.uint8)


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------

def _quality_scale(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int32)


def _plane_blocks(plane: np.ndarray) -> np.ndarray:
    """Pad (edge-replicate) to 8-multiples and split into (by, bx, 8, 8)."""
    h, w = plane.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    if (ph, pw) != (h, w):  # a zero-width pad would still copy the plane
        plane = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
    return plane.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3)


def _prepare_coefficients(
    img: np.ndarray, quality: int, subsample: str
) -> tuple:
    """Shared encoder front half: color transform, optional 4:2:0
    subsample, blockwise DCT, quantization — per-component quantized
    coefficients in zigzag order on the full MCU grid. Returns
    (h, w, comp_coefs, samp, qsel, qts, mcux, mcuy)."""
    img = np.asarray(img)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if gray:
        planes = [img.astype(np.float64)]
        samp = [(1, 1)]
        qsel = [0]
    else:
        x = img.astype(np.float64)
        y = 0.299 * x[..., 0] + 0.587 * x[..., 1] + 0.114 * x[..., 2]
        cb = -0.168736 * x[..., 0] - 0.331264 * x[..., 1] + 0.5 * x[..., 2] + 128
        cr = 0.5 * x[..., 0] - 0.418688 * x[..., 1] - 0.081312 * x[..., 2] + 128
        if subsample == "420":
            ph, pw = -(-h // 2) * 2, -(-w // 2) * 2
            cbp = np.pad(cb, ((0, ph - h), (0, pw - w)), mode="edge")
            crp = np.pad(cr, ((0, ph - h), (0, pw - w)), mode="edge")
            cb = cbp.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            cr = crp.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            samp = [(2, 2), (1, 1), (1, 1)]
        elif subsample == "444":
            samp = [(1, 1), (1, 1), (1, 1)]
        else:
            raise ValueError(f"subsample {subsample!r} not in ('444','420')")
        planes = [y, cb, cr]
        qsel = [0, 1, 1]
    qts = [_quality_scale(QUANT_LUM, quality),
           _quality_scale(QUANT_CHROM, quality)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    comp_coefs = []
    for plane, (hi, vi), qi in zip(planes, samp, qsel):
        blocks = _plane_blocks(plane)
        # extend block grid to the full MCU grid (edge-block replicate)
        need_y, need_x = mcuy * vi, mcux * hi
        by, bx = blocks.shape[:2]
        if by < need_y or bx < need_x:
            blocks = np.pad(
                blocks,
                ((0, need_y - by), (0, need_x - bx), (0, 0), (0, 0)),
                mode="edge",
            )
        # batched DCT via two broadcast matmuls (see decode_jpeg's IDCT
        # note): ~12x faster than the einsum single-pass contraction on
        # small block grids; quantized-coefficient equality verified
        # exhaustively over the reachable solid-frame space.
        F = np.matmul(_C, np.matmul(blocks - 128.0, _C.T))
        qnat = qts[qi].reshape(8, 8)
        qz = np.rint(F / qnat).astype(np.int32)
        comp_coefs.append(qz.reshape(need_y, need_x, 64)[:, :, ZIGZAG])
    return h, w, comp_coefs, samp, qsel, qts, mcux, mcuy


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    subsample: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode (H, W, 3) or (H, W) uint8 as baseline JPEG. ``subsample``
    is '444' or '420'; Huffman tables are built per-image (optimal,
    spec-legal) and written in DHT."""
    h, w, comp_coefs, samp, qsel, qts, mcux, mcuy = _prepare_coefficients(
        img, quality, subsample
    )

    # serialize symbols per MCU (two-pass: stats then bits)
    ncomp = len(comp_coefs)
    tsel = [0] + [1] * (ncomp - 1)  # table 0 = luma, 1 = chroma
    events: list[tuple[int, int, int, int, int]] = []  # (tc, tid, sym, val, len)
    pred = [0] * ncomp
    rst_marks: list[int] = []  # indices into events where RSTs go
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            rst_marks.append(len(events))
            pred = [0] * ncomp
        my, mx = divmod(m, mcux)
        for ci in range(ncomp):
            hi, vi = samp[ci]
            for v in range(vi):
                for hh in range(hi):
                    zz = comp_coefs[ci][my * vi + v, mx * hi + hh]
                    # plain-int access: per-element numpy scalar reads
                    # (and the 63-step trailing-zero walk) dominated the
                    # baseline profile at ~2 ms/block-grid
                    zzl = zz.tolist()
                    nz = np.nonzero(zz[1:])[0]
                    last = int(nz[-1]) + 1 if len(nz) else 0
                    diff = zzl[0] - pred[ci]
                    pred[ci] = zzl[0]
                    t = _category(diff)
                    val = diff if diff >= 0 else diff + (1 << t) - 1
                    events.append((0, tsel[ci], t, val, t))
                    run = 0
                    for k in range(1, last + 1):
                        a = zzl[k]
                        if a == 0:
                            run += 1
                            continue
                        while run > 15:
                            events.append((1, tsel[ci], 0xF0, 0, 0))
                            run -= 16
                        s = _category(a)
                        val = a if a >= 0 else a + (1 << s) - 1
                        events.append((1, tsel[ci], (run << 4) | s, val, s))
                        run = 0
                    if last < 63:
                        events.append((1, tsel[ci], 0x00, 0, 0))

    # build tables from stats (one pass over events)
    freq_by_key: dict[tuple[int, int], dict[int, int]] = {}
    for etc, etid, sym, _, _ in events:
        d = freq_by_key.setdefault((etc, etid), {})
        d[sym] = d.get(sym, 0) + 1
    tables: dict[tuple[int, int], tuple[list[int], list[int]]] = {}
    codes: dict[tuple[int, int], dict[int, tuple[int, int]]] = {}
    for tc in (0, 1):
        for tid in set(tsel):
            freqs = freq_by_key.get((tc, tid)) or {0: 1}
            bits, huffval = optimal_table(freqs)
            tables[(tc, tid)] = (bits, huffval)
            codes[(tc, tid)] = build_codes(bits, huffval)

    out = bytearray(b"\xff\xd8")
    for qi in sorted(set(qsel)):
        zz = qts[qi][ZIGZAG].astype(np.uint8).tobytes()
        out += b"\xff\xdb" + struct.pack(">HB", 67, qi) + zz
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for ci in range(ncomp):
        out += bytes([ci + 1, (samp[ci][0] << 4) | samp[ci][1], qsel[ci]])
    for (tc, tid), (bits, huffval) in sorted(tables.items()):
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(huffval), (tc << 4) | tid)
        out += bytes(bits) + bytes(huffval)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for ci in range(ncomp):
        out += bytes([ci + 1, (tsel[ci] << 4) | tsel[ci]])
    out += b"\x00\x3f\x00"  # Ss=0 Se=63 Ah/Al=0

    writer = _BitWriter()
    rst_iter = iter(rst_marks + [-1])
    next_rst = next(rst_iter)
    rst_n = 0
    for i, (tc, tid, sym, val, vlen) in enumerate(events):
        if i == next_rst:
            writer.pad_to_byte()
            out += writer.out
            out += bytes([0xFF, 0xD0 + (rst_n & 7)])
            rst_n += 1
            writer = _BitWriter()
            next_rst = next(rst_iter)
        code, length = codes[(tc, tid)][sym]
        writer.write(code, length)
        if vlen:
            writer.write(val, vlen)
    writer.pad_to_byte()
    out += writer.out
    out += b"\xff\xd9"
    return bytes(out)
