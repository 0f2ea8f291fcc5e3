"""Pure-stdlib PNG codec (zlib + numpy) — no PIL required.

Shrinks the "compressed formats sit behind CodecUnavailable" gap: the
container has no image libraries, but PNG's only compression is DEFLATE
and ``zlib`` ships with CPython, so a complete, honest decoder is
possible with public-spec knowledge alone (RFC 2083 / W3C PNG spec).

Decoder coverage:

* all five color types (gray, RGB, palette, gray+alpha, RGBA),
* bit depths 1/2/4/8/16 where the spec allows them,
* all five scanline filters (None/Sub/Up/Average/Paeth),
* both interlace methods (null and Adam7),
* tRNS transparency for palette images,
* chunk CRC verification.

Encoder: 8-bit gray/RGB/RGBA, filter type 0, one IDAT — enough for
round-trip tests and for sinks that need to emit thumbnails.

Reference parity: the reference decodes images eagerly with PIL
(utils/utils.py:27 ``_load_image`` → ``Image.open``); here the same
bytes→array contract is met in pure numpy inside Arrow batches.

Validation is the same non-circular inverse-pair pattern as the Whisper
number FST goldens: tests/test_png.py applies the spec's *forward*
filter equations in an independent test-side implementation and the
decoder must invert them exactly, alongside hand-assembled byte vectors
and encoder/decoder round-trips.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_ALLOWED_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}

# Adam7: (row_start, row_step, col_start, col_step) per pass
_ADAM7 = (
    (0, 8, 0, 8),
    (0, 8, 4, 8),
    (4, 8, 0, 4),
    (0, 4, 2, 4),
    (2, 4, 0, 2),
    (0, 2, 1, 2),
    (1, 2, 0, 1),
)


def _chunks(buf: bytes):
    """Yield (type, data) for every chunk, verifying each CRC."""
    pos = 8
    n = len(buf)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", buf[pos : pos + 4])
        ctype = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack(">I", buf[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in {ctype!r}")
        yield ctype, data
        pos += 12 + length
        if ctype == b"IEND":
            return
    raise ValueError("PNG missing IEND")


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _unfilter(raw: bytes, width: int, height: int, channels: int,
              depth: int) -> np.ndarray:
    """Invert the per-scanline filters; returns (height, rowbytes)
    uint8 of still-packed sample bytes."""
    bpp = max(1, channels * depth // 8)
    rowbytes = (width * channels * depth + 7) // 8
    if len(raw) < height * (rowbytes + 1):
        raise ValueError("truncated PNG image data")
    out = np.zeros((height, rowbytes), dtype=np.uint8)
    prev = np.zeros(rowbytes, dtype=np.uint8)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8,
                             count=rowbytes, offset=pos + 1).copy()
        pos += 1 + rowbytes
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub: recon[i] = raw[i] + recon[i-bpp]
            # per byte-lane this is a cumulative sum mod 256
            lanes = line[: rowbytes - rowbytes % bpp].reshape(-1, bpp)
            line[: lanes.size] = (
                np.cumsum(lanes.astype(np.int64), axis=0) % 256
            ).astype(np.uint8).reshape(-1)
            for i in range(lanes.size, rowbytes):  # ragged tail (never
                line[i] = (line[i] + line[i - bpp]) & 0xFF  # for valid bpp)
        elif ftype == 2:  # Up
            line = (line.astype(np.int64) + prev) % 256
            line = line.astype(np.uint8)
        elif ftype == 3:  # Average
            rec = line.astype(np.int64)
            for i in range(rowbytes):
                left = rec[i - bpp] if i >= bpp else 0
                rec[i] = (rec[i] + ((left + int(prev[i])) >> 1)) & 0xFF
            line = rec.astype(np.uint8)
        elif ftype == 4:  # Paeth
            rec = line.astype(np.int64)
            for i in range(rowbytes):
                a = rec[i - bpp] if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                rec[i] = (rec[i] + _paeth(int(a), b, c)) & 0xFF
            line = rec.astype(np.uint8)
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = line
        prev = line
    return out


def _unpack_samples(rows: np.ndarray, width: int, channels: int,
                    depth: int) -> np.ndarray:
    """(height, rowbytes) packed bytes → (height, width, channels) ints."""
    height = rows.shape[0]
    if depth == 8:
        return rows[:, : width * channels].reshape(height, width, channels)
    if depth == 16:
        flat = rows[:, : width * channels * 2].reshape(
            height, width * channels, 2
        ).astype(np.uint16)
        return ((flat[..., 0] << 8) | flat[..., 1]).reshape(
            height, width, channels
        )
    # sub-byte depths: MSB-first bit unpack, then regroup
    bits = np.unpackbits(rows, axis=1)
    per = depth
    vals = np.zeros((height, rows.shape[1] * 8 // per), dtype=np.uint16)
    for b in range(per):
        vals = (vals << 1) | bits[:, b :: per][:, : vals.shape[1]]
    return vals[:, : width * channels].reshape(height, width, channels)


def decode_png_native(buf: bytes) -> tuple[np.ndarray, dict]:
    """Decode to the image's native sample array.

    Returns ``(arr, info)`` where ``arr`` is (H, W, C) uint8 or uint16
    (palette images stay as index arrays, C = 1) and ``info`` carries
    ``color_type``, ``bit_depth``, ``palette`` ((N, 3) uint8 or None)
    and ``trns`` (per-palette-entry alpha or None).
    """
    if buf[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    width = height = None
    depth = ctype = interlace = 0
    idat = bytearray()
    palette = None
    trns = None
    for name, data in _chunks(buf):
        if name == b"IHDR":
            width, height, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if comp != 0 or filt != 0:
                raise ValueError("unknown PNG compression/filter method")
            if ctype not in _CHANNELS or depth not in _ALLOWED_DEPTHS[ctype]:
                raise ValueError(f"invalid PNG color/depth {ctype}/{depth}")
        elif name == b"PLTE":
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif name == b"tRNS" and ctype == 3:
            trns = np.frombuffer(data, dtype=np.uint8)
        elif name == b"IDAT":
            idat += data
    if width is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    channels = _CHANNELS[ctype]
    dtype = np.uint16 if depth == 16 else np.uint8

    if interlace == 0:
        rows = _unfilter(raw, width, height, channels, depth)
        arr = _unpack_samples(rows, width, channels, depth).astype(dtype)
    elif interlace == 1:
        arr = np.zeros((height, width, channels), dtype=dtype)
        pos = 0
        for r0, rs, c0, cs in _ADAM7:
            pw = (width - c0 + cs - 1) // cs
            ph = (height - r0 + rs - 1) // rs
            if pw == 0 or ph == 0:
                continue
            rowbytes = (pw * channels * depth + 7) // 8
            sub = raw[pos : pos + ph * (rowbytes + 1)]
            pos += ph * (rowbytes + 1)
            rows = _unfilter(sub, pw, ph, channels, depth)
            arr[r0::rs, c0::cs] = _unpack_samples(
                rows, pw, channels, depth
            ).astype(dtype)
    else:
        raise ValueError(f"unknown PNG interlace method {interlace}")
    info = {
        "color_type": ctype,
        "bit_depth": depth,
        "palette": palette,
        "trns": trns,
    }
    return arr, info


def decode_png(buf: bytes) -> np.ndarray:
    """Decode to (H, W, 3) uint8 RGB — the ``decode_image`` contract.

    Matches PIL's ``convert("RGB")`` conventions: alpha is dropped (not
    composited), 16-bit samples take their high byte, palette entries
    are looked up, sub-byte gray is scaled to full range.
    """
    arr, info = decode_png_native(buf)
    ctype, depth = info["color_type"], info["bit_depth"]
    if ctype == 3:
        pal = info["palette"]
        if pal is None:
            raise ValueError("palette PNG missing PLTE")
        return pal[arr[..., 0]]
    if depth == 16:
        arr = (arr >> 8).astype(np.uint8)
    elif depth < 8:
        # scale 1/2/4-bit gray to 0..255 (e.g. 1-bit: 0/1 → 0/255)
        arr = (arr * (255 // ((1 << depth) - 1))).astype(np.uint8)
    if ctype in (4, 6):  # drop alpha, like PIL convert("RGB")
        arr = arr[..., : arr.shape[2] - 1]
    if arr.shape[2] == 1:
        arr = np.repeat(arr, 3, axis=2)
    return np.ascontiguousarray(arr)


def encode_png(img: np.ndarray, level: int = 6) -> bytes:
    """Encode (H, W) / (H, W, 1) gray, (H, W, 3) RGB or (H, W, 4) RGBA
    uint8 as a non-interlaced, filter-0 PNG."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    ctype = {1: 0, 3: 2, 4: 6}.get(c)
    if ctype is None:
        raise ValueError(f"unsupported channel count {c}")
    body = np.zeros((h, 1 + w * c), dtype=np.uint8)
    body[:, 1:] = img.reshape(h, w * c)

    def chunk(name: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + name
            + data
            + struct.pack(">I", zlib.crc32(name + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    idat = zlib.compress(body.tobytes(), level)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )
