"""Pure-python WebP lossless (VP8L) codec.

Closes the last named gap in the still-image codec family
(functions/codecs.py listed WebP behind the PIL ``CodecUnavailable``
upgrade path; PNG/GIF/JPEG/TIFF/BMP/PPM are already native). The
reference reads WebP via PIL (utils/utils.py:27 _load_image); here the
format is implemented from the published container + bitstream spec
(RFC 9649 / the VP8L "WebP Lossless Bitstream Specification").

Decoder coverage — the full VP8L feature set:
* RIFF / VP8X extended container walk (ANIM/ALPH/EXIF chunks skipped,
  lossy ``VP8 `` raises ``CodecUnavailable``);
* canonical prefix codes: the simple (1-2 symbol) form and the normal
  form with the 19-symbol code-length code (kCodeLengthCodeOrder),
  repeat codes 16/17/18 and the optional max_symbol cap;
* LZ77 backward references with the 120-entry two-dimensional
  plane-code distance mapping, plus the color cache
  (hash ``0x1e35a7bd * argb >> (32 - cache_bits)``);
* meta prefix codes (entropy image selecting per-tile code groups);
* all four transforms, inverted in reverse stream order: predictor
  (14 modes), cross-color, subtract-green, color-indexing with
  sub-byte pixel bundling (1/2/4 bpp packed widths).

Encoder (``encode_webp``) emits spec-valid streams using a deliberate
subset: optional subtract-green transform, no color cache, a single
prefix-code group, greedy LZ77 restricted to dist=1 (run) and
dist=width (vertical copy) emitted as raw distances (plane code + 120),
and length-limited package-merge Huffman codes (complete Kraft sums,
which tests assert — a strict decoder would reject over/under-full
codes). Literal-only alphabets with ≤2 used symbols take the simple
code form.

Validation (tests/test_webp.py): hand-assembled bitstreams decoded
against hand-computed pixels (simple codes, LZ77 plane codes, color
cache, subtract-green, color indexing with bundling) — independent of
the encoder — plus encoder→decoder round-trips over adversarial
images (uniform noise hits the equal-length code-length edge) and
Kraft-completeness property checks.

Per-pixel loops are plain Python: this codec exists so the multimodal
operators have a real end-to-end path on small fixtures; the Spark-side
contract (mapInPandas batching, per-row decode_failed error paths)
is what carries to 100 TB, not this decoder's inner loop.
"""

from __future__ import annotations

import struct

import numpy as np

from .codecs import CodecUnavailable

# ---------------------------------------------------------------------------
# bit I/O — VP8L packs bits LSB-first within bytes
# ---------------------------------------------------------------------------


class BitReader:
    """LSB-first reader with a small shift register (no per-bit loop)."""

    def __init__(self, data: bytes):
        self._d = data
        self._byte = 0  # next unread byte
        self._val = 0   # buffered bits, LSB = next bit
        self._have = 0

    def bits(self, n: int) -> int:
        while self._have < n:
            if self._byte >= len(self._d):
                raise ValueError("truncated VP8L stream")
            self._val |= self._d[self._byte] << self._have
            self._byte += 1
            self._have += 8
        out = self._val & ((1 << n) - 1)
        self._val >>= n
        self._have -= n
        return out

    def peek(self, n: int) -> int:
        """Next n stream bits WITHOUT consuming, zero-padded past the
        true end of data (consumers must check ``_have`` before taking
        bits a padded peek matched)."""
        d = self._d
        while self._have < n and self._byte < len(d):
            self._val |= d[self._byte] << self._have
            self._byte += 1
            self._have += 8
        return self._val & ((1 << n) - 1)


class BitWriter:
    """LSB-first writer with a shift-register accumulator."""

    def __init__(self) -> None:
        self._bytes = bytearray()
        self._val = 0
        self._have = 0

    def write(self, value: int, n: int) -> None:
        self._val |= (value & ((1 << n) - 1)) << self._have
        self._have += n
        while self._have >= 8:
            self._bytes.append(self._val & 0xFF)
            self._val >>= 8
            self._have -= 8

    def write_fields(self, values: np.ndarray, widths: np.ndarray) -> None:
        """Vectorized append of many LSB-first fields (value_i in
        width_i bits, in array order) — emits exactly the bytes the
        per-field ``write`` loop would. Zero-width fields are skipped
        by construction (they occupy no bit positions)."""
        widths = widths.astype(np.int64)
        values = values.astype(np.int64)
        total = int(widths.sum())
        if total == 0:
            return
        ends = np.cumsum(widths)
        starts = ends - widths
        bits = np.zeros(self._have + total, dtype=np.uint8)
        # lead-in: pending sub-byte bits of the accumulator, LSB-first
        for i in range(self._have):
            bits[i] = (self._val >> i) & 1
        off = self._have
        wmax = int(widths.max()) if len(widths) else 0
        for t in range(wmax):
            sel = widths > t
            bits[off + starts[sel] + t] = (values[sel] >> t) & 1
        nbytes = len(bits) >> 3
        self._bytes += np.packbits(
            bits[: nbytes * 8], bitorder="little"
        ).tobytes()
        rem = bits[nbytes * 8 :]
        self._val = 0
        self._have = len(rem)
        for i, b in enumerate(rem):
            self._val |= int(b) << i

    def getvalue(self) -> bytes:
        out = bytearray(self._bytes)
        if self._have:
            out.append(self._val & ((1 << self._have) - 1))
        return bytes(out)


# ---------------------------------------------------------------------------
# canonical prefix codes (DEFLATE-style assignment: by length, then symbol)
# ---------------------------------------------------------------------------

# code-length-code symbol transmission order (VP8L spec §5.2.2)
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (length, code); codes assigned canonically."""
    max_len = max(lengths, default=0)
    bl_count = [0] * (max_len + 1)
    for l in lengths:
        if l:
            bl_count[l] += 1
    next_code = [0] * (max_len + 2)
    code = 0
    for l in range(1, max_len + 1):
        code = (code + bl_count[l - 1]) << 1
        next_code[l] = code
    out: dict[int, tuple[int, int]] = {}
    for sym, l in enumerate(lengths):
        if l:
            out[sym] = (l, next_code[l])
            next_code[l] += 1
    return out


class _Decoder:
    """Prefix-code decoder over a BitReader: root-table lookup for codes
    up to _ROOT bits (one peek, one list index), bit-by-bit canonical
    walk as the fallback for longer codes — same symbols, same bit
    consumption, ~4× on the per-symbol hot path."""

    __slots__ = ("table", "lone", "lut", "root")

    _ROOT = 10

    def __init__(self, lengths: list[int]):
        used = [s for s, l in enumerate(lengths) if l > 0]
        # a lone used symbol is read with zero bits (the simple-code
        # 1-symbol form lowers to this; libwebp builds the same table)
        self.lone = used[0] if len(used) == 1 else None
        codes = canonical_codes(lengths)
        self.table = {(l, c): s for s, (l, c) in codes.items()}
        self._build_lut(codes)

    def _build_lut(self, codes: dict[int, tuple[int, int]]) -> None:
        """lut[v] for the next _ROOT stream bits v (LSB-first): packed
        (symbol << 5) | code_length, or -1 when the code is longer than
        the root or v is not a valid prefix."""
        root = self._ROOT
        lut = np.full(1 << root, -1, dtype=np.int64)
        for sym, (l, c) in codes.items():
            if l > root:
                continue
            # canonical codes are MSB-first; the stream serves them one
            # bit at a time starting at the MSB, so the low l bits of
            # the peeked window hold the code bit-reversed
            rev = 0
            for i in range(l):
                rev |= ((c >> i) & 1) << (l - 1 - i)
            lut[rev :: 1 << l] = (sym << 5) | l
        self.lut = lut.tolist()
        self.root = root

    @classmethod
    def simple(cls, symbols: list[int]) -> "_Decoder":
        d = cls.__new__(cls)
        if len(symbols) == 1:
            d.lone = symbols[0]
            d.table = {}
            d._build_lut({})
        else:
            d.lone = None
            d.table = {(1, 0): symbols[0], (1, 1): symbols[1]}
            d._build_lut({symbols[0]: (1, 0), symbols[1]: (1, 1)})
        return d

    def read(self, br: BitReader) -> int:
        if self.lone is not None:
            return self.lone
        ent = self.lut[br.peek(self.root)]
        if ent >= 0:
            l = ent & 31
            if br._have >= l:
                br._val >>= l
                br._have -= l
                return ent >> 5
            # the match used zero-padding past the end of data — the
            # bit-at-a-time path raises exactly here too
            raise ValueError("truncated VP8L stream")
        code = 0
        length = 0
        t = self.table
        while length <= 15:
            code = (code << 1) | br.bits(1)
            length += 1
            s = t.get((length, code))
            if s is not None:
                return s
        raise ValueError("invalid prefix code")


def _read_code_lengths(br: BitReader, alphabet_size: int) -> _Decoder:
    """One prefix code: simple form or normal (code-length-coded) form."""
    if br.bits(1):  # simple
        num_symbols = br.bits(1) + 1
        if br.bits(1):
            first = br.bits(8)
        else:
            first = br.bits(1)
        syms = [first]
        if num_symbols == 2:
            syms.append(br.bits(8))
        return _Decoder.simple(syms)
    num_clc = 4 + br.bits(4)
    clc_lengths = [0] * 19
    for i in range(num_clc):
        clc_lengths[_CLC_ORDER[i]] = br.bits(3)
    clc = _Decoder(clc_lengths)
    if br.bits(1):  # explicit max_symbol
        length_nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev = 8
    i = 0
    while i < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        s = clc.read(br)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev = s
        elif s == 16:
            rep = 3 + br.bits(2)
            for _ in range(rep):
                if i < alphabet_size:
                    lengths[i] = prev
                    i += 1
        elif s == 17:
            i += 3 + br.bits(3)
        else:  # 18
            i += 11 + br.bits(7)
    return _Decoder(lengths)


# ---------------------------------------------------------------------------
# LZ77 prefix values + distance plane codes
# ---------------------------------------------------------------------------


def prefix_encode(value: int) -> tuple[int, int, int]:
    """value -> (prefix_code, extra_bits_value, extra_bits_count)."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    extra = v.bit_length() - 2
    code = 2 * extra + ((v >> extra) & 1)
    return code + 2, v & ((1 << extra) - 1), extra


# the 120 short-distance (dx, dy) neighborhood offsets (spec §4.2.2);
# plane code p in 1..120 maps to entry p-1, dist = dy*width + dx (min 1);
# plane codes above 120 carry dist = code - 120
_PLANE_OFFSETS = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)
assert len(_PLANE_OFFSETS) == 120


def plane_code_to_distance(width: int, code: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _PLANE_OFFSETS[code - 1]
    return max(1, dy * width + dx)


# ---------------------------------------------------------------------------
# entropy-coded image decode
# ---------------------------------------------------------------------------

_CACHE_MULT = 0x1E35A7BD


def _read_groups(br: BitReader, n_groups: int, cache_bits: int):
    groups = []
    alphabets = (256 + 24 + ((1 << cache_bits) if cache_bits else 0),
                 256, 256, 256, 40)
    for _ in range(n_groups):
        groups.append(tuple(_read_code_lengths(br, a) for a in alphabets))
    return groups


def _decode_entropy_image(
    br: BitReader, xsize: int, ysize: int, allow_meta: bool
) -> np.ndarray:
    """Decode one entropy-coded (sub-)image to (ysize, xsize) uint32 ARGB."""
    cache_bits = br.bits(4) if br.bits(1) else 0
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size
    meta = None
    meta_bits = 0
    n_groups = 1
    if allow_meta and br.bits(1):
        meta_bits = br.bits(3) + 2
        mw = (xsize + (1 << meta_bits) - 1) >> meta_bits
        mh = (ysize + (1 << meta_bits) - 1) >> meta_bits
        meta_img = _decode_entropy_image(br, mw, mh, False)
        meta = ((meta_img >> 8) & 0xFFFF).astype(np.int64)
        n_groups = int(meta.max()) + 1
    groups = _read_groups(br, n_groups, cache_bits)

    n = xsize * ysize
    out = [0] * n  # plain ints: list get/set beats numpy scalar access
    pos = 0
    shift = 32 - cache_bits if cache_bits else 0

    # ---- inlined symbol decode -------------------------------------
    # The per-symbol cost of _Decoder.read + BitReader.peek (two method
    # calls, repeated attribute loads) dominated decode; the hot loop
    # below keeps the bit register in locals and reads symbols inline.
    # Semantics are read()'s exactly: LUT hit consumes its length (a
    # zero-padded match past end-of-data raises), LUT miss walks the
    # (length, code) table bit by bit to 15.
    grp_pre = [
        [(dec.lone, dec.lut, dec.root, (1 << dec.root) - 1, dec.table)
         for dec in g]
        for g in groups
    ]
    d = br._d
    dn = len(d)
    val = br._val
    have = br._have
    bytep = br._byte

    try:
        g_pre = grp_pre[0]
        while pos < n:
            if meta is not None:
                y, x = divmod(pos, xsize)
                g_pre = grp_pre[int(meta[y >> meta_bits, x >> meta_bits])]
            lo, lut, root, rmask, tbl = g_pre[0]
            if lo is not None:
                s = lo
            else:
                while have < root and bytep < dn:
                    val |= d[bytep] << have
                    bytep += 1
                    have += 8
                ent = lut[val & rmask]
                if ent >= 0:
                    ln = ent & 31
                    if have < ln:
                        raise ValueError("truncated VP8L stream")
                    val >>= ln
                    have -= ln
                    s = ent >> 5
                else:
                    code = 0
                    length = 0
                    s = -1
                    while length <= 15:
                        if not have:
                            if bytep >= dn:
                                raise ValueError("truncated VP8L stream")
                            val |= d[bytep] << have
                            bytep += 1
                            have += 8
                        code = (code << 1) | (val & 1)
                        val >>= 1
                        have -= 1
                        length += 1
                        s2 = tbl.get((length, code))
                        if s2 is not None:
                            s = s2
                            break
                    if s < 0:
                        raise ValueError("invalid prefix code")
            if s < 256:
                chan = [0, 0, 0]
                for ci in (1, 2, 3):
                    lo, lut, root, rmask, tbl = g_pre[ci]
                    if lo is not None:
                        chan[ci - 1] = lo
                        continue
                    while have < root and bytep < dn:
                        val |= d[bytep] << have
                        bytep += 1
                        have += 8
                    ent = lut[val & rmask]
                    if ent >= 0:
                        ln = ent & 31
                        if have < ln:
                            raise ValueError("truncated VP8L stream")
                        val >>= ln
                        have -= ln
                        chan[ci - 1] = ent >> 5
                    else:
                        code = 0
                        length = 0
                        sym = -1
                        while length <= 15:
                            if not have:
                                if bytep >= dn:
                                    raise ValueError(
                                        "truncated VP8L stream"
                                    )
                                val |= d[bytep] << have
                                bytep += 1
                                have += 8
                            code = (code << 1) | (val & 1)
                            val >>= 1
                            have -= 1
                            length += 1
                            s2 = tbl.get((length, code))
                            if s2 is not None:
                                sym = s2
                                break
                        if sym < 0:
                            raise ValueError("invalid prefix code")
                        chan[ci - 1] = sym
                r, b, a = chan
                px = (a << 24) | (r << 16) | (s << 8) | b
                out[pos] = px
                pos += 1
                if cache_bits:
                    cache[(_CACHE_MULT * px & 0xFFFFFFFF) >> shift] = px
            elif s < 256 + 24:
                code = s - 256
                if code < 4:
                    length = code + 1
                else:
                    extra = (code - 2) >> 1
                    while have < extra:
                        if bytep >= dn:
                            raise ValueError("truncated VP8L stream")
                        val |= d[bytep] << have
                        bytep += 1
                        have += 8
                    length = (
                        ((2 + (code & 1)) << extra)
                        + (val & ((1 << extra) - 1)) + 1
                    )
                    val >>= extra
                    have -= extra
                # distance prefix symbol
                lo, lut, root, rmask, tbl = g_pre[4]
                if lo is not None:
                    dsym = lo
                else:
                    while have < root and bytep < dn:
                        val |= d[bytep] << have
                        bytep += 1
                        have += 8
                    ent = lut[val & rmask]
                    if ent >= 0:
                        ln = ent & 31
                        if have < ln:
                            raise ValueError("truncated VP8L stream")
                        val >>= ln
                        have -= ln
                        dsym = ent >> 5
                    else:
                        code2 = 0
                        length2 = 0
                        dsym = -1
                        while length2 <= 15:
                            if not have:
                                if bytep >= dn:
                                    raise ValueError(
                                        "truncated VP8L stream"
                                    )
                                val |= d[bytep] << have
                                bytep += 1
                                have += 8
                            code2 = (code2 << 1) | (val & 1)
                            val >>= 1
                            have -= 1
                            length2 += 1
                            s2 = tbl.get((length2, code2))
                            if s2 is not None:
                                dsym = s2
                                break
                        if dsym < 0:
                            raise ValueError("invalid prefix code")
                if dsym < 4:
                    dval = dsym + 1
                else:
                    extra = (dsym - 2) >> 1
                    while have < extra:
                        if bytep >= dn:
                            raise ValueError("truncated VP8L stream")
                        val |= d[bytep] << have
                        bytep += 1
                        have += 8
                    dval = (
                        ((2 + (dsym & 1)) << extra)
                        + (val & ((1 << extra) - 1)) + 1
                    )
                    val >>= extra
                    have -= extra
                dist = plane_code_to_distance(xsize, dval)
                if dist > pos or pos + length > n:
                    raise ValueError("LZ77 reference out of bounds")
                if cache_bits:
                    for _ in range(length):
                        px = out[pos - dist]
                        out[pos] = px
                        pos += 1
                        cache[(_CACHE_MULT * px & 0xFFFFFFFF) >> shift] = px
                else:
                    src = pos - dist
                    if dist >= length:
                        out[pos : pos + length] = out[src : src + length]
                        pos += length
                    else:
                        for _ in range(length):
                            out[pos] = out[pos - dist]
                            pos += 1
            else:
                px = cache[s - 256 - 24]
                out[pos] = px
                pos += 1
    finally:
        br._val = val
        br._have = have
        br._byte = bytep
    return np.array(out, dtype=np.uint64).reshape(ysize, xsize).astype(
        np.uint32
    )


# ---------------------------------------------------------------------------
# inverse transforms
# ---------------------------------------------------------------------------


def _channels(argb: np.ndarray):
    return ((argb >> 24) & 0xFF, (argb >> 16) & 0xFF,
            (argb >> 8) & 0xFF, argb & 0xFF)


def _pack(a, r, g, b) -> np.ndarray:
    return ((a.astype(np.uint32) << 24) | (r.astype(np.uint32) << 16)
            | (g.astype(np.uint32) << 8) | b.astype(np.uint32))


def _inv_subtract_green(argb: np.ndarray) -> np.ndarray:
    a, r, g, b = _channels(argb)
    return _pack(a, (r + g) & 0xFF, g, (b + g) & 0xFF)


def _avg2(p, q):
    return tuple((pc + qc) >> 1 for pc, qc in zip(p, q))


def _predict(mode: int, L, T, TL, TR):
    if mode == 0:
        return (0xFF, 0, 0, 0)
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _avg2(_avg2(L, TR), T)
    if mode == 6:
        return _avg2(L, TL)
    if mode == 7:
        return _avg2(L, T)
    if mode == 8:
        return _avg2(TL, T)
    if mode == 9:
        return _avg2(T, TR)
    if mode == 10:
        return _avg2(_avg2(L, TL), _avg2(T, TR))
    if mode == 11:  # Select
        p = tuple(lc + tc - tlc for lc, tc, tlc in zip(L, T, TL))
        p_l = sum(abs(pc - lc) for pc, lc in zip(p, L))
        p_t = sum(abs(pc - tc) for pc, tc in zip(p, T))
        return L if p_l < p_t else T
    if mode == 12:  # ClampAddSubtractFull
        return tuple(min(255, max(0, lc + tc - tlc))
                     for lc, tc, tlc in zip(L, T, TL))
    if mode == 13:  # ClampAddSubtractHalf
        ave = _avg2(L, T)
        # (a - b) / 2 in the spec is C division: truncation toward zero
        return tuple(
            min(255, max(0, ac + int((ac - tlc) / 2)))
            for ac, tlc in zip(ave, TL)
        )
    raise ValueError(f"predictor mode {mode}")


def _inv_predictor(argb: np.ndarray, tiles: np.ndarray, bits: int) -> np.ndarray:
    h, w = argb.shape
    modes = ((tiles >> 8) & 0xFF).astype(int)
    px = [[(0, 0, 0, 0)] * w for _ in range(h)]
    res = argb

    def unres(y, x, pred):
        v = int(res[y, x])
        return (((v >> 24) + pred[0]) & 0xFF, (((v >> 16) & 0xFF) + pred[1]) & 0xFF,
                (((v >> 8) & 0xFF) + pred[2]) & 0xFF, ((v & 0xFF) + pred[3]) & 0xFF)

    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = (0xFF, 0, 0, 0)
            elif y == 0:
                pred = px[0][x - 1]  # L
            elif x == 0:
                pred = px[y - 1][0]  # T
            else:
                L = px[y][x - 1]
                T = px[y - 1][x]
                TL = px[y - 1][x - 1]
                # rightmost column: TR wraps to the leftmost pixel of
                # the current row (already decoded), per spec
                TR = px[y - 1][x + 1] if x + 1 < w else px[y][0]
                pred = _predict(int(modes[y >> bits, x >> bits]), L, T, TL, TR)
            px[y][x] = unres(y, x, pred)
    flat = np.array([c for row in px for p in row for c in p],
                    dtype=np.uint32).reshape(h, w, 4)
    return _pack(flat[..., 0], flat[..., 1], flat[..., 2], flat[..., 3])


def _ct_delta(t: int, c: int) -> int:
    """(int8(t) * int8(c)) >> 5 with arithmetic shift."""
    t = t - 256 if t >= 128 else t
    c = c - 256 if c >= 128 else c
    return (t * c) >> 5


def _inv_color_transform(argb: np.ndarray, tiles: np.ndarray, bits: int) -> np.ndarray:
    h, w = argb.shape
    out = argb.copy()
    for y in range(h):
        for x in range(w):
            te = int(tiles[y >> bits, x >> bits])
            # channel roles per spec: green_to_red lives in the tile
            # pixel's *blue* byte, green_to_blue in its green byte,
            # red_to_blue in its red byte
            g2r, g2b, r2b = te & 0xFF, (te >> 8) & 0xFF, (te >> 16) & 0xFF
            v = int(out[y, x])
            a = v >> 24
            r = (v >> 16) & 0xFF
            g = (v >> 8) & 0xFF
            b = v & 0xFF
            r = (r + _ct_delta(g2r, g)) & 0xFF
            b = (b + _ct_delta(g2b, g)) & 0xFF
            b = (b + _ct_delta(r2b, r)) & 0xFF
            out[y, x] = (a << 24) | (r << 16) | (g << 8) | b
    return out


def _inv_color_indexing(
    argb: np.ndarray, palette: np.ndarray, width_bits: int, xsize: int
) -> np.ndarray:
    h = argb.shape[0]
    n = len(palette)
    out = np.zeros((h, xsize), dtype=np.uint32)
    if width_bits == 0:
        idx = (argb >> 8) & 0xFF
        ok = idx < n
        out[ok] = palette[idx[ok].astype(int)]
        return out
    bpp = 8 >> width_bits
    per = 1 << width_bits
    mask = (1 << bpp) - 1
    for y in range(h):
        for x in range(xsize):
            packed = int(argb[y, x >> width_bits])
            i = ((packed >> 8) >> ((x & (per - 1)) * bpp)) & mask
            out[y, x] = palette[i] if i < n else 0
    return out


# ---------------------------------------------------------------------------
# container + top-level decode
# ---------------------------------------------------------------------------


def _find_vp8l(buf: bytes) -> bytes:
    if buf[:4] != b"RIFF" or buf[8:12] != b"WEBP":
        raise ValueError("not a RIFF/WEBP container")
    pos = 12
    while pos + 8 <= len(buf):
        cid = buf[pos:pos + 4]
        size = struct.unpack_from("<I", buf, pos + 4)[0]
        if cid == b"VP8L":
            return buf[pos + 8:pos + 8 + size]
        if cid == b"VP8 ":
            raise CodecUnavailable(
                "lossy VP8 WebP not supported (PIL upgrade path absent)"
            )
        pos += 8 + size + (size & 1)
    raise ValueError("no VP8L chunk in WEBP container")


def decode_vp8l(payload: bytes) -> np.ndarray:
    """VP8L bitstream -> (H, W, 3) uint8 RGB; alpha is dropped to match
    the pipeline's decode_image contract (same as TIFF RGBA)."""
    br = BitReader(payload)
    if br.bits(8) != 0x2F:
        raise ValueError("bad VP8L signature")
    xsize = br.bits(14) + 1
    ysize = br.bits(14) + 1
    br.bits(1)  # alpha-is-used hint
    if br.bits(3) != 0:
        raise ValueError("unknown VP8L version")

    transforms = []  # applied inverse in reverse read order
    seen = set()
    cur_x = xsize
    while br.bits(1):
        t = br.bits(2)
        if t in seen:
            raise ValueError("duplicate transform")
        seen.add(t)
        if t == 2:  # subtract green
            transforms.append(("sg",))
        elif t in (0, 1):  # predictor / color transform
            bits = br.bits(3) + 2
            tw = (cur_x + (1 << bits) - 1) >> bits
            th = (ysize + (1 << bits) - 1) >> bits
            tiles = _decode_entropy_image(br, tw, th, False)
            transforms.append(("pred" if t == 0 else "color", tiles, bits))
        else:  # color indexing
            n_colors = br.bits(8) + 1
            pal_img = _decode_entropy_image(br, n_colors, 1, False)[0]
            # palette entries are stored as per-channel deltas
            pal = np.zeros(n_colors, dtype=np.uint32)
            prev = 0
            for i in range(n_colors):
                d = int(pal_img[i])
                cur = 0
                for sh in (0, 8, 16, 24):
                    cur |= ((((prev >> sh) & 0xFF) + ((d >> sh) & 0xFF)) & 0xFF) << sh
                pal[i] = cur
                prev = cur
            if n_colors <= 2:
                width_bits = 3
            elif n_colors <= 4:
                width_bits = 2
            elif n_colors <= 16:
                width_bits = 1
            else:
                width_bits = 0
            transforms.append(("index", pal, width_bits, cur_x))
            cur_x = (cur_x + (1 << width_bits) - 1) >> width_bits

    argb = _decode_entropy_image(br, cur_x, ysize, True)
    for t in reversed(transforms):
        if t[0] == "sg":
            argb = _inv_subtract_green(argb)
        elif t[0] == "pred":
            argb = _inv_predictor(argb, t[1], t[2])
        elif t[0] == "color":
            argb = _inv_color_transform(argb, t[1], t[2])
        else:
            argb = _inv_color_indexing(argb, t[1], t[2], t[3])

    rgb = np.stack(
        [(argb >> 16) & 0xFF, (argb >> 8) & 0xFF, argb & 0xFF], axis=-1
    ).astype(np.uint8)
    return rgb


def decode_webp(buf: bytes) -> np.ndarray:
    return decode_vp8l(_find_vp8l(buf))


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _package_merge(freqs: dict[int, int], limit: int) -> dict[int, int]:
    """Length-limited Huffman via package-merge: optimal lengths with a
    complete Kraft sum (Σ 2^-len == 1) for ≥2 symbols."""
    syms = sorted(freqs)
    if len(syms) == 1:
        return {syms[0]: 1}
    originals = sorted((freqs[s], (s,)) for s in syms)
    level = list(originals)
    for _ in range(limit - 1):
        packaged = [
            (level[i][0] + level[i + 1][0], level[i][1] + level[i + 1][1])
            for i in range(0, len(level) - 1, 2)
        ]
        level = sorted(originals + packaged)
    lengths = {s: 0 for s in syms}
    for _, members in level[: 2 * len(syms) - 2]:
        for s in members:
            lengths[s] += 1
    return lengths


class _CodeWriter:
    """One prefix code on the encode side: simple form when every used
    symbol fits in a byte and there are ≤2 of them, else the normal
    code-length-coded form."""

    def __init__(self, freqs: dict[int, int], alphabet_size: int):
        used = sorted(s for s, f in freqs.items() if f > 0)
        self.simple = bool(used) and len(used) <= 2 and used[-1] <= 255
        if not used:
            used, self.simple = [0], True  # unused code: 1-symbol form
        if self.simple:
            self.symbols = used
            self.codes = (
                {used[0]: (0, 0)} if len(used) == 1
                else {used[0]: (1, 0), used[1]: (1, 1)}
            )
        else:
            lengths = _package_merge({s: freqs[s] for s in used}, 15)
            self.lengths = [lengths.get(s, 0) for s in range(alphabet_size)]
            self.codes = canonical_codes(self.lengths)

    def write_definition(self, bw: BitWriter) -> None:
        if self.simple:
            bw.write(1, 1)
            bw.write(len(self.symbols) - 1, 1)
            first = self.symbols[0]
            # only the first symbol has the 1-bit short form (value ≤ 1)
            if first <= 1:
                bw.write(0, 1)
                bw.write(first, 1)
            else:
                bw.write(1, 1)
                bw.write(first, 8)
            if len(self.symbols) == 2:
                bw.write(self.symbols[1], 8)
            return
        bw.write(0, 1)
        # code-length code over the emitted length symbols (literals
        # only; zero runs are spelled out — valid, just not minimal)
        clc_freqs: dict[int, int] = {}
        for l in self.lengths:
            clc_freqs[l] = clc_freqs.get(l, 0) + 1
        clc_lengths = _package_merge(clc_freqs, 7)
        if len(clc_lengths) == 1:
            # a lone length symbol would need a 0-bit code; pad with a
            # never-emitted partner so both get 1-bit codes (complete)
            lone = next(iter(clc_lengths))
            clc_lengths = {lone: 1, (lone + 1) % 19: 1}
        full = [clc_lengths.get(s, 0) for s in range(19)]
        bw.write(19 - 4, 4)  # transmit all 19 code-length-code lengths
        for s in _CLC_ORDER:
            bw.write(full[s], 3)
        bw.write(0, 1)  # no explicit max_symbol
        clc_codes = canonical_codes(full)
        for l in self.lengths:
            ln, code = clc_codes[l]
            bw.write(_reverse_code(code, ln), ln)

    def write_symbol(self, bw: BitWriter, sym: int) -> None:
        ln, code = self.codes[sym]
        if ln:
            bw.write(_reverse_code(code, ln), ln)


def _reverse_code(code: int, length: int) -> int:
    """Prefix codes are emitted MSB-of-code first; the LSB-first
    BitWriter therefore takes the bit-reversed code."""
    r = 0
    for _ in range(length):
        r = (r << 1) | (code & 1)
        code >>= 1
    return r


def _run_starts(eq: np.ndarray) -> np.ndarray:
    """For a boolean array, R[j] = length of the True run starting at j
    (0 when eq[j] is False) — vectorized via next-False positions."""
    n = len(eq)
    zeros = np.flatnonzero(~eq)
    nxt = np.empty(n, dtype=np.int64)
    # next False at or after j
    nxt_idx = np.searchsorted(zeros, np.arange(n), side="left")
    has = nxt_idx < len(zeros)
    nxt[has] = zeros[nxt_idx[has]]
    nxt[~has] = n
    return nxt - np.arange(n)


def _tokenize(argb: np.ndarray, xsize: int):
    """Greedy run tokenizer: literals plus backward copies at dist=1
    (horizontal run) and dist=xsize (vertical copy), min length 3.
    Match lengths are precomputed as vectorized run arrays; the greedy
    walk itself visits one entry per TOKEN (same tokens as the old
    per-pixel scan, bit-identical output)."""
    flat = argb.reshape(-1)
    n = len(flat)
    # m_d[p] = match length at p for distance d = True-run of
    # flat[j] == flat[j-d] starting at j=p (0 for p < d)
    lens = {}
    for dist in {1, xsize}:
        if dist == 0 or dist >= n:
            lens[dist] = None
            continue
        eq = flat[dist:] == flat[:-dist]
        r = _run_starts(eq)
        m = np.zeros(n, dtype=np.int64)
        m[dist:] = r
        lens[dist] = m.tolist()
    m1 = lens.get(1)
    mw = lens.get(xsize)
    flat_l = flat.tolist()
    # three parallel per-token columns (val = pixel for literals, copy
    # length for copies; dist = 0 marks a literal) — same token
    # sequence as the old list-of-tuples, returned as arrays so the
    # caller's stats/emission passes are single numpy expressions
    # instead of per-token generator scans
    tvals: list[int] = []
    tdists: list[int] = []
    pos = 0
    av, ad = tvals.append, tdists.append
    z = [0] * n
    l1a = m1 if m1 is not None else z
    lwa = mw if mw is not None else z
    while pos < n:
        l1 = l1a[pos]
        lw = lwa[pos]
        best_len, best_dist = (lw, xsize) if lw > l1 else (l1, 1)
        if best_len >= 3:
            # compare lengths CAPPED at the scan limit, like the
            # per-pixel scan did (ties and both-over-limit cases prefer
            # dist=1); only pay for the cap when a copy is plausible
            limit = n - pos
            if limit > 4096:
                limit = 4096
            if best_len > limit:
                l1c = l1 if l1 < limit else limit
                lwc = lw if lw < limit else limit
                best_len, best_dist = (lwc, xsize) if lwc > l1c else (l1c, 1)
            if best_len >= 3:
                av(best_len)
                ad(best_dist)
                pos += best_len
                continue
        av(flat_l[pos])
        ad(0)
        pos += 1
    return (
        np.array(tvals, dtype=np.int64),
        np.array(tdists, dtype=np.int64),
    )


def encode_vp8l(img: np.ndarray, subtract_green: bool = True) -> bytes:
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=-1)
    h, w = img.shape[:2]
    if not (1 <= w <= (1 << 14) and 1 <= h <= (1 << 14)):
        raise ValueError("VP8L dimensions must be in 1..16384")
    r = img[..., 0].astype(np.uint32)
    g = img[..., 1].astype(np.uint32)
    b = img[..., 2].astype(np.uint32)
    if subtract_green:
        r = (r - g) & 0xFF
        b = (b - g) & 0xFF
    argb = (np.uint32(0xFF) << 24) | (r << 16) | (g << 8) | b

    bw = BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # no alpha
    bw.write(0, 3)  # version
    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)
    bw.write(0, 1)  # end of transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta prefix codes

    tvals, tdists = _tokenize(argb, w)
    n_tokens = len(tvals)
    # symbol stats: literal channels via bincount, copies via a (short)
    # Python pass — identical frequencies to the per-token bump loop
    lit_mask = tdists == 0
    lit_idx = np.flatnonzero(lit_mask)
    px = tvals[lit_idx]
    gs, rs, bs, al = (px >> 8) & 0xFF, (px >> 16) & 0xFF, px & 0xFF, px >> 24
    freqs: list[dict[int, int]] = [
        {s: int(c) for s, c in enumerate(np.bincount(gs, minlength=1)) if c},
        {s: int(c) for s, c in enumerate(np.bincount(rs, minlength=1)) if c},
        {s: int(c) for s, c in enumerate(np.bincount(bs, minlength=1)) if c},
        {s: int(c) for s, c in enumerate(np.bincount(al, minlength=1)) if c},
        {},
    ]
    cop_idx = np.flatnonzero(~lit_mask)
    copies = list(
        zip(cop_idx.tolist(), tvals[cop_idx].tolist(), tdists[cop_idx].tolist())
    )
    for _, length, dist in copies:
        k = 256 + prefix_encode(length)[0]
        freqs[0][k] = freqs[0].get(k, 0) + 1
        dk = prefix_encode(dist + 120)[0]
        freqs[4][dk] = freqs[4].get(dk, 0) + 1

    writers = [
        _CodeWriter(freqs[0], 256 + 24),
        _CodeWriter(freqs[1], 256),
        _CodeWriter(freqs[2], 256),
        _CodeWriter(freqs[3], 256),
        _CodeWriter(freqs[4], 40),
    ]
    for cw in writers:
        cw.write_definition(bw)
    # vectorized entropy emission: every token expands to exactly four
    # (value, width) fields in order — lit: G/R/B/A codes; copy: G
    # length code, length extra bits, distance code, distance extra
    # bits — emitted via one write_fields call (bit-identical to the
    # per-symbol write loop; zero-width fields emit nothing)
    revs, lns = [], []
    for cw in writers:
        alpha = max(cw.codes) + 1 if cw.codes else 1
        rv = np.zeros(alpha, dtype=np.int64)
        ln = np.zeros(alpha, dtype=np.int64)
        for sym, (length, code) in cw.codes.items():
            ln[sym] = length
            rv[sym] = _reverse_code(code, length)
        revs.append(rv)
        lns.append(ln)
    V = np.zeros((n_tokens, 4), dtype=np.int64)
    W = np.zeros((n_tokens, 4), dtype=np.int64)
    for lane, syms in ((0, gs), (1, rs), (2, bs), (3, al)):
        V[lit_idx, lane] = revs[lane][syms]
        W[lit_idx, lane] = lns[lane][syms]
    for i, length, dist in copies:
        code, extra, nbits = prefix_encode(length)
        dcode, dextra, dnbits = prefix_encode(dist + 120)
        V[i] = (revs[0][256 + code], extra, revs[4][dcode], dextra)
        W[i] = (lns[0][256 + code], nbits, lns[4][dcode], dnbits)
    bw.write_fields(V.ravel(), W.ravel())
    return bw.getvalue()


def encode_webp(img: np.ndarray, subtract_green: bool = True) -> bytes:
    payload = encode_vp8l(img, subtract_green=subtract_green)
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
