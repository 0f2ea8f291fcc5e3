"""Pure-stdlib FLAC codec (decoder: full subset-independent spec;
encoder: fixed-predictor subset producing spec-conformant streams).

Implemented from the public FLAC format specification (RFC 9639 /
xiph.org format docs) with zero native deps, completing the audio leg
of the codec family the same way functions/png.py / jpeg.py / webp.py
did for images — the reference reads FLAC through soundfile
(utils/utils.py:27); here the container is real and testable.

Decoder coverage:
* STREAMINFO parsing + metadata-block walk (all block types skipped
  structurally);
* frame headers: both blocking strategies, every block-size and
  sample-rate code (incl. the 8/16-bit follow-up forms), UTF-8-coded
  frame/sample numbers, CRC-8 verification (poly 0x07);
* subframes: CONSTANT, VERBATIM, FIXED orders 0-4, LPC orders 1-32
  (quantized coefficients + signed shift), wasted-bits unary prefix;
* residuals: 4-bit Rice and 5-bit Rice2 partitions, escape partitions
  (raw width), multi-partition layouts;
* stereo decorrelation: independent, left/side, right/side, mid/side
  (side channel carries +1 bit);
* frame CRC-16 (poly 0x8005) and STREAMINFO MD5 verification for
  16-bit streams.

Encoder subset (what mediagen/tests emit): 16-bit, 1-2 independent
channels, fixed 4096-sample blocks (short tail frame via the 16-bit
block-size form), per-frame best-of fixed predictor order 0-2 vs
verbatim, single-partition Rice with optimal parameter or raw escape,
correct CRC-8/CRC-16 and STREAMINFO MD5 — decodable by any FLAC
implementation.

Output contract matches decode_wav: ((n, channels) int16, rate);
streams wider than 16 bits are narrowed by truncation exactly as
``soundfile.read(dtype='int16')`` does.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

from .codecs import CodecUnavailable

# ---------------------------------------------------------------------------
# CRCs (FLAC frame-header CRC-8 poly 0x07, frame CRC-16 poly 0x8005)
# ---------------------------------------------------------------------------


def _crc_table(poly: int, width: int) -> np.ndarray:
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    tbl = np.empty(256, dtype=np.uint32)
    for i in range(256):
        c = i << (width - 8)
        for _ in range(8):
            c = ((c << 1) ^ poly) if c & top else (c << 1)
        tbl[i] = c & mask
    return tbl


_CRC8_TBL = _crc_table(0x07, 8)
_CRC16_TBL = _crc_table(0x8005, 16)
# plain-list twins: a Python-list lookup inside the byte loop is ~3×
# faster than per-element numpy indexing (the loop itself is the cost —
# CRCs are sequential by definition, only the constant factor moves)
_CRC8_LIST = _CRC8_TBL.tolist()
_CRC16_LIST = _CRC16_TBL.tolist()


def crc8(data: bytes) -> int:
    c = 0
    tbl = _CRC8_LIST
    for b in data:
        c = tbl[c ^ b]
    return c


#: _CRC16_DIST[d][b] = CRC-16 of byte b followed by d zero bytes. A
#: zero-init, no-final-xor CRC is GF(2)-linear in the message, so
#: crc16(m) = XOR_i _CRC16_DIST[len-1-i][m[i]] — one fancy-index gather
#: plus an XOR reduction instead of a per-byte Python loop. The table
#: grows lazily (vectorized one-zero-byte step per row) up to
#: _CRC16_DIST_MAX rows (512 B each, 4 MiB at the cap); longer messages
#: fold in chunks of that size, so the table never depends on the
#: longest frame seen. FLAC frames are a few KB.
_CRC16_DIST = _CRC16_TBL.astype(np.uint16)[np.newaxis, :].copy()
_CRC16_DIST_MAX = 8192


def _crc16_dist(n: int) -> np.ndarray:
    global _CRC16_DIST
    t = _CRC16_DIST
    while len(t) < n:
        grow = min(max(len(t), 1024), n - len(t))
        ext = np.empty((grow, 256), dtype=np.uint16)
        prev = t[-1]
        for i in range(grow):
            prev = (
                _CRC16_TBL[(prev >> 8).astype(np.int64)].astype(np.uint16)
                ^ (prev << 8)
            )
            ext[i] = prev
        t = np.concatenate([t, ext])
    _CRC16_DIST = t
    return t


def _crc16_chunk(c: int, data: bytes) -> int:
    """CRC-16 register after feeding ``data`` to register ``c``."""
    n = len(data)
    if n < 32:  # table/gather overhead beats the loop only past ~32 B
        tbl = _CRC16_LIST
        for b in data:
            c = tbl[((c >> 8) ^ b) & 0xFF] ^ ((c << 8) & 0xFFFF)
        return c
    arr = np.frombuffer(data, dtype=np.uint8)
    if c:
        # a running register c continues the CRC exactly as if it were
        # XORed into the chunk's first two bytes (MSB-first, 16-bit)
        arr = arr.copy()
        arr[0] ^= c >> 8
        arr[1] ^= c & 0xFF
    t = _crc16_dist(n)
    contrib = t[np.arange(n - 1, -1, -1), arr]
    return int(np.bitwise_xor.reduce(contrib))


def crc16(data: bytes) -> int:
    c = 0
    for lo in range(0, len(data), _CRC16_DIST_MAX):
        c = _crc16_chunk(c, data[lo : lo + _CRC16_DIST_MAX])
    return c


# ---------------------------------------------------------------------------
# bit I/O (MSB-first)
# ---------------------------------------------------------------------------


class _BitReader:
    def __init__(self, buf: bytes, byte_pos: int = 0):
        self._arr = np.frombuffer(buf, dtype=np.uint8)
        self.bits = np.unpackbits(self._arr)
        self.ones = np.flatnonzero(self.bits)
        self.p = byte_pos * 8
        self._pow = (1 << np.arange(63, -1, -1, dtype=np.uint64))
        self._cum: np.ndarray | None = None

    @property
    def cum(self) -> np.ndarray:
        """cum[p] = number of one-bits strictly before bit position p
        (len total_bits + 1) — the index into ``ones`` of the first one
        at/after p. Lazily built; feeds the vectorized Rice decoder."""
        if self._cum is None:
            c = np.empty(len(self.bits) + 1, dtype=np.int64)
            c[0] = 0
            np.cumsum(self.bits, out=c[1:])
            self._cum = c
        return self._cum

    def read(self, n: int) -> int:
        """n-bit big-endian unsigned (n ≤ 57)."""
        b = self.bits[self.p : self.p + n]
        if len(b) < n:
            raise ValueError("FLAC bitstream truncated")
        self.p += n
        return int(b.astype(np.uint64).dot(self._pow[64 - n :]))

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v & (1 << (n - 1)) else v

    def unary(self) -> int:
        i = np.searchsorted(self.ones, self.p)
        if i >= len(self.ones):
            raise ValueError("FLAC bitstream truncated in unary run")
        q = int(self.ones[i]) - self.p
        self.p = int(self.ones[i]) + 1
        return q

    def align(self) -> None:
        self.p = (self.p + 7) & ~7

    @property
    def byte_pos(self) -> int:
        return self.p // 8


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def write_bit_array(self, bits: np.ndarray) -> None:
        """Append an MSB-first 0/1 uint8 array in one vectorized pass
        (np.packbits), absorbing any current sub-byte remainder. Emits
        exactly the bytes the per-bit ``write`` loop would."""
        if self.nbits:
            lead = np.empty(self.nbits, dtype=np.uint8)
            for i in range(self.nbits):
                lead[self.nbits - 1 - i] = (self.acc >> i) & 1
            bits = np.concatenate([lead, bits])
            self.acc = 0
            self.nbits = 0
        nbytes = len(bits) >> 3
        if nbytes:
            self.out += np.packbits(bits[: nbytes * 8]).tobytes()
        for b in bits[nbytes * 8 :]:
            self.write(int(b), 1)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.out)


# ---------------------------------------------------------------------------
# shared tables
# ---------------------------------------------------------------------------

_RATE_TABLE = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
_BPS_TABLE = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}

# fixed-predictor reconstruction coefficients by order
_FIXED_COEF = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _utf8_decode(r: _BitReader) -> int:
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    probe = b0
    while probe & 0x40:
        n += 1
        probe <<= 1
    if n < 1 or n > 6:
        raise ValueError("bad UTF-8-coded number in frame header")
    v = b0 & (0x3F >> n)
    for _ in range(n):
        c = r.read(8)
        if (c & 0xC0) != 0x80:
            raise ValueError("bad UTF-8 continuation in frame header")
        v = (v << 6) | (c & 0x3F)
    return v


def _utf8_encode(v: int) -> bytes:
    if v < 0x80:
        return bytes([v])
    # n continuation bytes carry 6 bits each; the lead byte carries 6-n
    n = 1
    while v >= (1 << (5 * n + 6)):
        n += 1
    out = [((0xFF << (7 - n)) & 0xFF) | (v >> (6 * n))]
    for i in range(n - 1, -1, -1):
        out.append(0x80 | ((v >> (6 * i)) & 0x3F))
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def _read_raw_signed_vec(r: _BitReader, n: int, width: int) -> np.ndarray:
    """n signed ``width``-bit fields, vectorized (escape partitions and
    VERBATIM subframes). Bit-identical to n ``read_signed`` calls."""
    if n <= 0:
        return np.empty(0, dtype=np.int64)
    if width == 0:
        return np.zeros(n, dtype=np.int64)
    p = r.p
    if p + n * width > len(r.bits):
        raise ValueError("FLAC bitstream truncated")
    m = r.bits[p : p + n * width].reshape(n, width).astype(np.int64)
    vals = m @ (1 << np.arange(width - 1, -1, -1, dtype=np.int64))
    r.p = p + n * width
    sign = 1 << (width - 1)
    return np.where(vals & sign, vals - (1 << width), vals)


def _read_rice_vec(r: _BitReader, n: int, k: int) -> np.ndarray:
    """n Rice(k)-coded residuals, vectorized: the unary stop bits are
    chased through a precomputed next-stop map (``cum`` of the one-bit
    positions), then quotients/value bits resolve with array arithmetic.
    The only per-sample Python is one list indexation in the chase —
    ~7× over the per-sample searchsorted loop, bit-identical output."""
    if n <= 0:
        return np.empty(0, dtype=np.int64)
    O, C, total = r.ones, r.cum, len(r.bits)
    p = r.p
    j = int(C[p])
    # every code consumes exactly one stop one-bit plus ≤k value bits,
    # so at most n*(k+1) ones are consumed from index j on
    jmax = min(len(O), j + n * (k + 1))
    if jmax == j:
        raise ValueError("FLAC bitstream truncated in unary run")
    # F[j'-j] = ones-index of the NEXT code's stop bit, given this
    # code's stop is ones[j']: first one at/after ones[j'] + 1 + k
    m = jmax - j
    nxt = C[np.minimum(O[j:jmax] + 1 + k, total)] - j
    # orbit of 0 under the successor map by pointer doubling: each
    # round extends the known orbit A (L entries) to 2L by one gather
    # through the L-step jump map P, then squares P — O(m log n)
    # vectorized work instead of n sequential list indexations.
    # Entries that leave the window clamp to the sentinel m (the scalar
    # chase raised "truncated" on first use of such an entry; the
    # equivalent check is any sentinel among the first n orbit slots).
    # Pg = S^L with domain 0..m; Pg[m] = m absorbs, so composition
    # Pg[Pg] and the window check below need no special-casing
    Pg = np.append(np.minimum(nxt, m), m)
    A = np.zeros(1, dtype=np.int64)
    while len(A) < n:
        take = min(len(A), n - len(A))
        A = np.concatenate([A, Pg[A[:take]]])
        if len(A) < n:
            Pg = Pg[Pg]
    if int(A.max()) >= m:
        raise ValueError("FLAC bitstream truncated in unary run")
    js = A + j
    stops = O[js]
    if int(stops[-1]) + 1 + k > total:
        raise ValueError("FLAC bitstream truncated")
    q = np.empty(n, dtype=np.int64)
    q[0] = int(stops[0]) - p
    if n > 1:
        np.subtract(stops[1:], stops[:-1], out=q[1:])
        q[1:] -= 1 + k
    if int(q.max()) >= (1 << (62 - k)):
        # quotient alone exceeds int64 — only a corrupt stream gets here
        # (the scalar path would raise OverflowError on the same input)
        raise ValueError("corrupt Rice run exceeds int64")
    u = q << k
    if k:
        val = np.zeros(n, dtype=np.int64)
        b, pos = r.bits, stops + 1
        for t in range(k):
            val = (val << 1) | b[pos + t]
        u |= val
    r.p = int(stops[-1]) + 1 + k
    return (u >> 1) ^ -(u & 1)  # zigzag


def _read_residual(r: _BitReader, blocksize: int, pred_order: int) -> np.ndarray:
    method = r.read(2)
    if method > 1:
        raise ValueError(f"reserved residual coding method {method}")
    plen = 4 if method == 0 else 5
    escape = (1 << plen) - 1
    porder = r.read(4)
    nparts = 1 << porder
    if blocksize % nparts:
        raise ValueError("block size not divisible by partition count")
    part_n = blocksize >> porder
    res = np.empty(blocksize - pred_order, dtype=np.int64)
    w = 0
    for part in range(nparts):
        n = part_n - pred_order if part == 0 else part_n
        param = r.read(plen)
        if param == escape:
            width = r.read(5)
            res[w : w + n] = _read_raw_signed_vec(r, n, width)
        else:
            res[w : w + n] = _read_rice_vec(r, n, param)
        w += n
    return res


def _predict_fixed(warm: list[int], res: np.ndarray, order: int) -> np.ndarray:
    """Invert a FIXED predictor (shift 0, binomial coefficients): the
    residual is the order-th finite difference of the signal, so the
    signal is ``order`` successive cumulative sums, each seeded by the
    matching difference of the warm-up samples — all numpy, no
    per-sample loop. Bit-identical to the recurrence for valid input."""
    if order == 0:
        return res.astype(np.int64)
    warm_arr = np.asarray(warm, dtype=np.int64)
    cur = res.astype(np.int64)
    for level in range(order - 1, -1, -1):
        seed = int(np.diff(warm_arr, level)[-1])
        cur = seed + np.cumsum(cur)
    return np.concatenate([warm_arr, cur])


def _predict(warm: list[int], res: np.ndarray, coefs: list[int],
             shift: int) -> np.ndarray:
    """General LPC reconstruction (sequential by definition — the
    recurrence feeds back shifted products; FIXED subframes take the
    vectorized ``_predict_fixed`` path instead)."""
    order = len(coefs)
    out = np.empty(order + len(res), dtype=np.int64)
    out[:order] = warm
    for i in range(len(res)):
        acc = 0
        base = order + i
        for j, c in enumerate(coefs):
            acc += c * int(out[base - 1 - j])
        out[base] = int(res[i]) + (acc >> shift)
    return out


def _read_subframe(r: _BitReader, blocksize: int, bps: int) -> np.ndarray:
    if r.read(1):
        raise ValueError("subframe padding bit set")
    ftype = r.read(6)
    wasted = 0
    if r.read(1):  # wasted-bits flag: unary count - 1 additional
        wasted = 1 + r.unary()
        bps -= wasted
    if ftype == 0:  # CONSTANT
        v = r.read_signed(bps)
        out = np.full(blocksize, v, dtype=np.int64)
    elif ftype == 1:  # VERBATIM
        out = _read_raw_signed_vec(r, blocksize, bps)
    elif 8 <= ftype <= 12:  # FIXED order 0-4
        order = ftype - 8
        warm = [r.read_signed(bps) for _ in range(order)]
        res = _read_residual(r, blocksize, order)
        out = _predict_fixed(warm, res, order)
    elif ftype >= 32:  # LPC
        order = (ftype & 31) + 1
        warm = [r.read_signed(bps) for _ in range(order)]
        prec = r.read(4) + 1
        if prec == 16:
            raise ValueError("invalid LPC coefficient precision")
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        coefs = [r.read_signed(prec) for _ in range(order)]
        res = _read_residual(r, blocksize, order)
        out = _predict(warm, res, coefs, shift)
    else:
        raise ValueError(f"reserved subframe type {ftype}")
    if wasted:
        out = out << wasted
    return out


def decode_flac(buf: bytes) -> tuple[np.ndarray, int]:
    """FLAC stream → ((n_samples, channels) int16, sample_rate)."""
    if buf[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    info = None
    while pos + 4 <= len(buf):
        hdr = buf[pos]
        blen = int.from_bytes(buf[pos + 1 : pos + 4], "big")
        body = buf[pos + 4 : pos + 4 + blen]
        if hdr & 0x7F == 0:  # STREAMINFO
            r = _BitReader(body)
            r.read(16), r.read(16), r.read(24), r.read(24)
            rate = r.read(20)
            channels = r.read(3) + 1
            bps = r.read(5) + 1
            total = r.read(36)
            md5 = body[18:34]
            info = (rate, channels, bps, total, md5)
        pos += 4 + blen
        if hdr & 0x80:  # last metadata block
            break
    if info is None:
        raise ValueError("FLAC stream missing STREAMINFO")
    s_rate, s_channels, s_bps, total, md5 = info

    r = _BitReader(buf, pos)
    chans: list[list[np.ndarray]] = [[] for _ in range(s_channels)]
    got = 0
    while r.byte_pos < len(buf) and (total == 0 or got < total):
        frame_start = r.byte_pos
        sync = r.read(14)
        if sync != 0x3FFE:
            raise ValueError(f"bad frame sync at byte {frame_start}")
        if r.read(1):
            raise ValueError("frame header reserved bit set")
        r.read(1)  # blocking strategy
        bs_code = r.read(4)
        rate_code = r.read(4)
        ch_code = r.read(4)
        bps_code = r.read(3)
        if r.read(1):
            raise ValueError("frame header reserved bit 2 set")
        _utf8_decode(r)
        if bs_code == 0:
            raise ValueError("reserved block size code 0")
        elif bs_code == 1:
            blocksize = 192
        elif bs_code <= 5:
            blocksize = 576 << (bs_code - 2)
        elif bs_code == 6:
            blocksize = r.read(8) + 1
        elif bs_code == 7:
            blocksize = r.read(16) + 1
        else:
            blocksize = 256 << (bs_code - 8)
        if rate_code == 12:
            r.read(8)
        elif rate_code in (13, 14):
            r.read(16)
        elif rate_code == 15:
            raise ValueError("invalid sample rate code")
        hdr_crc = crc8(buf[frame_start : r.byte_pos])
        if r.read(8) != hdr_crc:
            raise ValueError("frame header CRC-8 mismatch")

        bps = s_bps if bps_code == 0 else _BPS_TABLE.get(bps_code)
        if bps is None:
            raise ValueError(f"reserved sample size code {bps_code}")
        if ch_code < 8:
            nch = ch_code + 1
            subs = [_read_subframe(r, blocksize, bps) for _ in range(nch)]
        elif ch_code in (8, 9, 10):
            nch = 2
            if ch_code == 8:  # left/side
                left = _read_subframe(r, blocksize, bps)
                side = _read_subframe(r, blocksize, bps + 1)
                subs = [left, left - side]
            elif ch_code == 9:  # right/side
                side = _read_subframe(r, blocksize, bps + 1)
                right = _read_subframe(r, blocksize, bps)
                subs = [side + right, right]
            else:  # mid/side
                mid = _read_subframe(r, blocksize, bps)
                side = _read_subframe(r, blocksize, bps + 1)
                m2 = (mid << 1) | (side & 1)
                subs = [(m2 + side) >> 1, (m2 - side) >> 1]
        else:
            raise ValueError(f"reserved channel assignment {ch_code}")
        if nch != s_channels:
            raise ValueError("frame channel count differs from STREAMINFO")
        r.align()
        frame_crc = crc16(buf[frame_start : r.byte_pos])
        if r.read(16) != frame_crc:
            raise ValueError("frame CRC-16 mismatch")
        for c in range(nch):
            chans[c].append(subs[c])
        got += blocksize

    if not chans[0]:
        return np.empty((0, s_channels), dtype=np.int16), s_rate
    out = np.stack([np.concatenate(c) for c in chans], axis=1)
    if total:
        out = out[:total]
    if s_bps == 16 and md5 != b"\x00" * 16:
        h = hashlib.md5(out.astype("<i2").tobytes()).digest()
        if h != md5:
            raise ValueError("decoded samples fail STREAMINFO MD5")
    if s_bps > 16:
        out = out >> (s_bps - 16)
    elif s_bps < 16:
        out = out << (16 - s_bps)
    return out.astype(np.int16), s_rate


# ---------------------------------------------------------------------------
# encoder (fixed-predictor subset, 16-bit, fixed 4096 blocks)
# ---------------------------------------------------------------------------


def _zigzag(v: np.ndarray) -> np.ndarray:
    return (v << 1) ^ (v >> 63)


def _rice_cost(u: np.ndarray, k: int) -> int:
    return int((u >> k).sum()) + len(u) * (1 + k)


def _write_residual(w: _BitWriter, res: np.ndarray) -> None:
    """Single-partition Rice (method 0, order 0) with raw escape."""
    w.write(0, 2)  # 4-bit Rice parameters
    w.write(0, 4)  # partition order 0
    u = _zigzag(res.astype(np.int64)).astype(np.uint64)
    best_k, best_cost = 0, None
    for k in range(15):
        c = _rice_cost(u, k)
        if best_cost is None or c < best_cost:
            best_k, best_cost = k, c
    width = max(
        int(np.abs(res).max()).bit_length() + 1 if len(res) else 1, 1
    )
    raw_cost = 5 + len(res) * width
    if width <= 31 and raw_cost < best_cost:
        w.write(15, 4)  # escape
        w.write(width, 5)
        w.write_bit_array(_field_bits(res.astype(np.int64), width))
        return
    w.write(best_k, 4)
    k = best_k
    # vectorized Rice emit: each code is q zeros, a stop one, k value
    # bits — lay all stop/value bit positions out with prefix sums and
    # pack once (every target bit is written by exactly one source bit)
    ui = u.astype(np.int64)
    q = ui >> k
    ends = np.cumsum(q + 1 + k)
    one_pos = ends - 1 - k
    arr = np.zeros(int(ends[-1]) if len(ends) else 0, dtype=np.uint8)
    arr[one_pos] = 1
    for t in range(k):
        arr[one_pos + 1 + t] = (ui >> (k - 1 - t)) & 1
    w.write_bit_array(arr)


def _field_bits(vals: np.ndarray, width: int) -> np.ndarray:
    """MSB-first bit array of fixed-width two's-complement fields."""
    shifts = np.arange(width - 1, -1, -1, dtype=np.int64)
    return ((vals[:, None] >> shifts[None, :]) & 1).astype(np.uint8).ravel()


def _fixed_residual(x: np.ndarray, order: int) -> np.ndarray:
    r = x.astype(np.int64)
    for _ in range(order):
        r = np.diff(r)
    return r


def _encode_subframe(w: _BitWriter, x: np.ndarray, bps: int = 16) -> None:
    xi = x.astype(np.int64)
    if len(xi) and np.all(xi == xi[0]):
        w.write(0, 1), w.write(0, 6), w.write(0, 1)  # CONSTANT
        w.write(int(xi[0]) & 0xFFFF, bps)
        return
    best = None
    for order in range(0, 3):
        if order >= len(xi):
            break
        res = _fixed_residual(xi, order)
        u = _zigzag(res).astype(np.uint64)
        cost = order * bps + min(_rice_cost(u, k) for k in range(15))
        if best is None or cost < best[0]:
            best = (cost, order, res)
    verbatim_cost = len(xi) * bps
    if best is None or best[0] >= verbatim_cost:
        w.write(0, 1), w.write(1, 6), w.write(0, 1)  # VERBATIM
        w.write_bit_array(_field_bits(xi, bps))
        return
    _, order, res = best
    w.write(0, 1), w.write(8 + order, 6), w.write(0, 1)  # FIXED
    for v in xi[:order]:
        w.write(int(v) & 0xFFFF, bps)
    _write_residual(w, res)


def encode_flac(samples: np.ndarray, rate: int, block: int = 4096) -> bytes:
    """(n,) or (n, 1-2) int16 → spec-conformant FLAC bytes (fixed
    blocking, independent channels, fixed predictors 0-2)."""
    x = np.asarray(samples, dtype=np.int16)
    if x.ndim == 1:
        x = x[:, None]
    n, channels = x.shape
    if channels > 8:
        raise ValueError("FLAC supports at most 8 channels")

    frames = bytearray()
    fno = 0
    for start in range(0, max(n, 1), block):
        chunk = x[start : start + block]
        bs = len(chunk)
        if bs == 0:
            break
        w = _BitWriter()
        w.write(0x3FFE, 14)
        w.write(0, 1)  # reserved
        w.write(0, 1)  # fixed blocking
        full = bs == 4096
        w.write(12 if full else 7, 4)  # 4096 or 16-bit follow-up
        w.write(13 if rate < 65536 else 0, 4)  # 16-bit Hz follow-up
        w.write(channels - 1, 4)  # independent channels
        w.write(4, 3)  # 16-bit samples
        w.write(0, 1)  # reserved
        for b in _utf8_encode(fno):
            w.write(b, 8)
        if not full:
            w.write(bs - 1, 16)
        if rate < 65536:
            w.write(rate, 16)
        hdr = bytes(w.out)  # header is byte-aligned here
        assert w.nbits == 0
        w.write(crc8(hdr), 8)
        for c in range(channels):
            _encode_subframe(w, chunk[:, c])
        w.align()
        body = bytes(w.out)
        frames += body + struct.pack(">H", crc16(body))
        fno += 1

    si = _BitWriter()
    si.write(min(4096, max(n, 16)), 16)  # min block size
    si.write(4096 if n > 4096 else min(4096, max(n, 16)), 16)
    si.write(0, 24), si.write(0, 24)  # min/max frame size unknown
    si.write(rate, 20)
    si.write(channels - 1, 3)
    si.write(15, 5)  # bps - 1 = 15
    si.write(n & ((1 << 36) - 1), 36)
    streaminfo = si.bytes() + hashlib.md5(x.astype("<i2").tobytes()).digest()
    header = b"fLaC" + bytes([0x80]) + len(streaminfo).to_bytes(3, "big")
    return header + streaminfo + bytes(frames)


__all__ = ["decode_flac", "encode_flac", "crc8", "crc16", "CodecUnavailable"]
