"""Pure-numpy media codecs for uncompressed formats.

The container has no image/audio libraries, but this package ships
pure-numpy codecs for the dominant wire formats, so the multimodal
operators (operators/multimodal.py) have a REAL code path end-to-end.
Uncompressed formats live here; the compressed ones have sibling
modules (functions/png.py, gif.py, jpeg.py — baseline AND progressive
— tiff.py with PackBits/LZW, and webp.py with the full VP8L lossless
bitstream). What remains (lossy VP8 WebP, MP4/H.264, FLAC,
arithmetic-coded JPEG) stays behind a PIL/soundfile import-try upgrade
and raises ``CodecUnavailable``.

Formats in this module:
* PPM ``P6`` (binary RGB, maxval ≤ 255), with comment support
* BMP ``BITMAPINFOHEADER``, 24/32-bit uncompressed (BI_RGB)
* WAV RIFF PCM 16-bit (chunk walk: fmt + data)
* "raw video" = concatenated P6 frames (an honest uncompressed
  container; ``iter_ppm_frames`` walks it sequentially)

PCM16 WAV is the one format encoded here (``encode_wav``, for mediagen).
The PPM and companded/ADPCM WAV encoders only build test inputs and
live in tests/media_fixtures.py.

Reference parity note: the reference decodes eagerly per row with PIL /
decord pools (utils/utils.py:27 _load_image); here decoding happens
inside Arrow batches in ``mapInPandas`` stages.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np


class CodecUnavailable(NotImplementedError):
    """Raised when bytes are not one of the dependency-free formats and
    no optional library is installed to handle them."""


# ---------------------------------------------------------------------------
# PPM (P6)
# ---------------------------------------------------------------------------

def _ppm_header(buf: bytes, pos: int) -> tuple[list[int], int]:
    """Parse the three header ints after the magic, skipping whitespace
    and ``#`` comments; returns (fields, payload_offset)."""
    fields: list[int] = []
    n = len(buf)
    while len(fields) < 3:
        while pos < n and buf[pos : pos + 1].isspace():
            pos += 1
        if pos < n and buf[pos : pos + 1] == b"#":
            while pos < n and buf[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < n and not buf[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        fields.append(int(buf[start:pos]))
    return fields, pos + 1  # single whitespace after maxval


def decode_ppm(buf: bytes, pos: int = 0) -> tuple[np.ndarray, int]:
    """Decode one P6 frame starting at ``pos``; returns ((H, W, 3)
    uint8, offset past the frame) so concatenated streams can be
    walked."""
    if buf[pos : pos + 2] != b"P6":
        raise ValueError("not a P6 PPM")
    (w, h, maxval), payload = _ppm_header(buf, pos + 2)
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    end = payload + w * h * 3
    if end > len(buf):
        raise ValueError("truncated PPM payload")
    img = np.frombuffer(buf[payload:end], dtype=np.uint8).reshape(h, w, 3)
    return img, end


def iter_ppm_frames(buf: bytes) -> Iterator[np.ndarray]:
    """Walk a concatenated-P6 'raw video' stream frame by frame.
    Non-P6 bytes (a compressed container) raise ``CodecUnavailable`` —
    the upgrade path there is a PyAV/decord install, absent here."""
    if buf and buf[:2] != b"P6":
        raise CodecUnavailable(
            "video bytes are not a concatenated-P6 stream and no video "
            "library is installed"
        )
    pos = 0
    while pos < len(buf):
        img, pos = decode_ppm(buf, pos)
        yield img


def iter_video_frames(buf: bytes) -> Iterator[np.ndarray]:
    """Format-sniffing multi-frame decode: animated GIF
    (functions/gif.py), Motion-JPEG in AVI (functions/avi.py) or MP4
    (functions/mp4.py), or a concatenated-P6 raw stream. Anything else
    raises ``CodecUnavailable`` (PyAV/decord upgrade path, absent
    here; H.264/HEVC tracks inside the real containers gate the same
    way — their metadata still probes)."""
    if buf[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import iter_gif_frames

        try:
            for frame, _delay in iter_gif_frames(buf):
                yield frame
            return
        except CodecUnavailable:
            raise
        except Exception as exc:
            raise CodecUnavailable(f"corrupt GIF video: {exc}") from exc
    kind = sniff_video(buf)
    if kind in ("avi", "mp4"):
        if kind == "avi":
            from .avi import iter_avi_frames as it
        else:
            from .mp4 import iter_mp4_frames as it
        try:
            yield from it(buf)
            return
        except CodecUnavailable:
            raise
        except Exception as exc:
            raise CodecUnavailable(f"corrupt {kind} video: {exc}") from exc
    yield from iter_ppm_frames(buf)


def sniff_video(buf: bytes) -> str:
    """Container kind for multi-frame media: gif / avi / mp4 / ppm /
    unknown (ppm = the raw concatenated-P6 stream)."""
    if buf[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if buf[:4] == b"RIFF" and buf[8:12] == b"AVI ":
        return "avi"
    if len(buf) >= 12 and buf[4:8] == b"ftyp":
        return "mp4"
    if buf[:2] == b"P6":
        return "ppm"
    return "unknown"


# ---------------------------------------------------------------------------
# BMP (BITMAPINFOHEADER, uncompressed 24/32bpp)
# ---------------------------------------------------------------------------

def decode_bmp(buf: bytes) -> np.ndarray:
    if buf[:2] != b"BM":
        raise ValueError("not a BMP")
    pixel_off = struct.unpack_from("<I", buf, 10)[0]
    hdr_size = struct.unpack_from("<I", buf, 14)[0]
    if hdr_size < 40:
        raise CodecUnavailable("BITMAPCOREHEADER BMP not supported")
    w = struct.unpack_from("<i", buf, 18)[0]
    h = struct.unpack_from("<i", buf, 22)[0]
    bpp = struct.unpack_from("<H", buf, 28)[0]
    compression = struct.unpack_from("<I", buf, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise CodecUnavailable(f"compressed/{bpp}bpp BMP not supported")
    bottom_up = h > 0
    h = abs(h)
    bytes_pp = bpp // 8
    stride = (w * bytes_pp + 3) & ~3
    rows = np.frombuffer(
        buf[pixel_off : pixel_off + stride * h], dtype=np.uint8
    ).reshape(h, stride)[:, : w * bytes_pp].reshape(h, w, bytes_pp)
    if bottom_up:
        rows = rows[::-1]
    # BGR(A) → RGB
    return np.ascontiguousarray(rows[:, :, 2::-1])


# ---------------------------------------------------------------------------
# WAV (RIFF PCM16)
# ---------------------------------------------------------------------------

def decode_wav(buf: bytes) -> tuple[np.ndarray, int]:
    """Returns ((n_samples, channels) int16, sample_rate).

    Format tags handled natively (the reference gets these for free
    from soundfile — utils/utils.py:27): 1 = integer PCM (8-bit
    unsigned, 16/24/32-bit signed), 3 = IEEE float (32/64-bit),
    6 = G.711 A-law, 7 = G.711 μ-law, 0x11 = IMA ADPCM, and
    0xFFFE = WAVE_FORMAT_EXTENSIBLE (resolved via its SubFormat
    GUID). Wider-than-16-bit inputs are narrowed to the int16
    contract exactly as ``soundfile.read(dtype='int16')`` does
    (truncation of the low bits / ±32767 scaling for floats)."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, n = 12, len(buf)
    fmt = None
    fmt_body = b""
    data = None
    fact_samples = None
    while pos + 8 <= n:
        cid = buf[pos : pos + 4]
        size = struct.unpack_from("<I", buf, pos + 4)[0]
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
            fmt_body = body
        elif cid == b"data":
            data = body
        elif cid == b"fact" and size >= 4:
            fact_samples = struct.unpack_from("<I", body, 0)[0]
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, rate, _, block_align, bits = fmt
    if channels < 1:
        raise ValueError("WAV with zero channels")
    if audio_format == 0xFFFE and len(fmt_body) >= 26:
        # WAVE_FORMAT_EXTENSIBLE: real tag is the SubFormat GUID's
        # first two bytes (the rest is the fixed ksmedia namespace)
        audio_format = struct.unpack_from("<H", fmt_body, 24)[0]

    from . import audio_codecs as _ac

    if audio_format == 1:  # integer PCM
        width = bits // 8
        usable = len(data) // (width * channels) * (width * channels)
        if bits == 16:
            samples = np.frombuffer(data[:usable], dtype="<i2")
        elif bits == 8:  # 8-bit PCM is unsigned, midpoint 128
            raw = np.frombuffer(data[:usable], dtype=np.uint8)
            samples = ((raw.astype(np.int16) - 128) << 8)
        elif bits == 24:
            raw = np.frombuffer(data[:usable], dtype=np.uint8).reshape(-1, 3)
            val = (
                raw[:, 0].astype(np.int32)
                | (raw[:, 1].astype(np.int32) << 8)
                | (raw[:, 2].astype(np.int32) << 16)
            )
            val = np.where(val >= 1 << 23, val - (1 << 24), val)
            samples = (val >> 8).astype(np.int16)
        elif bits == 32:
            samples = (
                np.frombuffer(data[:usable], dtype="<i4") >> 16
            ).astype(np.int16)
        else:
            raise CodecUnavailable(f"WAV PCM {bits}-bit not supported")
        return samples.reshape(-1, channels), rate
    if audio_format == 3:  # IEEE float
        if bits == 32:
            f = np.frombuffer(data[: len(data) // (4 * channels) * 4 * channels],
                              dtype="<f4")
        elif bits == 64:
            f = np.frombuffer(data[: len(data) // (8 * channels) * 8 * channels],
                              dtype="<f8")
        else:
            raise CodecUnavailable(f"WAV float {bits}-bit not supported")
        samples = np.clip(np.rint(f.astype(np.float64) * 32767.0),
                          -32768, 32767).astype(np.int16)
        return samples.reshape(-1, channels), rate
    if audio_format in (6, 7):  # G.711 A-law / μ-law
        usable = len(data) // channels * channels
        codes = np.frombuffer(data[:usable], dtype=np.uint8)
        dec = _ac.alaw_decode if audio_format == 6 else _ac.mulaw_decode
        return dec(codes).reshape(-1, channels), rate
    if audio_format == 0x11:  # IMA ADPCM
        if block_align < 4 * channels:
            raise ValueError("IMA ADPCM block_align too small")
        out = []
        for off in range(0, len(data) - (4 * channels) + 1, block_align):
            out.append(
                _ac.ima_adpcm_decode_block(
                    data[off : off + block_align], channels
                )
            )
        samples = (
            np.vstack(out) if out else np.empty((0, channels), dtype=np.int16)
        )
        if fact_samples is not None:  # drop tail-block zero padding
            samples = samples[:fact_samples]
        return samples, rate
    raise CodecUnavailable(f"WAV format={audio_format}/{bits}bit not supported")


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    samples = np.asarray(samples, dtype="<i2")
    if samples.ndim == 1:
        samples = samples[:, None]
    channels = samples.shape[1]
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2,
                      channels * 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


# ---------------------------------------------------------------------------
# dispatch + transforms
# ---------------------------------------------------------------------------

def sniff(buf: bytes) -> str:
    if buf[:2] == b"P6":
        return "ppm"
    if buf[:2] == b"BM":
        return "bmp"
    if buf[:4] == b"RIFF" and buf[8:12] == b"WAVE":
        return "wav"
    if buf[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if buf[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if buf[:2] == b"\xff\xd8":
        return "jpeg"
    if buf[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if buf[:4] == b"RIFF" and buf[8:12] == b"WEBP":
        return "webp"
    if buf[:4] == b"fLaC":
        return "flac"
    return "unknown"


def decode_audio(buf: bytes) -> tuple[np.ndarray, int]:
    """((n, ch) int16, rate) from WAV (PCM 8/16/24/32-bit, float,
    G.711, IMA ADPCM) or native FLAC; soundfile upgrade for the rest
    (absent in this container → CodecUnavailable)."""
    kind = sniff(buf)
    if kind == "wav":
        return decode_wav(buf)
    if kind == "flac":
        from .flac import decode_flac

        return decode_flac(buf)
    try:  # optional-library upgrade
        import io

        import soundfile  # type: ignore

        data, rate = soundfile.read(io.BytesIO(buf), dtype="int16",
                                    always_2d=True)
        return data, rate
    except ImportError:
        raise CodecUnavailable(
            "bytes are not PCM WAV and soundfile is not installed"
        ) from None


def decode_image(buf: bytes) -> np.ndarray:
    """(H, W, 3) uint8 from PPM/BMP/PNG/GIF/TIFF/JPEG (baseline AND
    progressive)/WebP-lossless; PIL upgrade path for the rest (lossy
    VP8 WebP, arithmetic-coded JPEG...)."""
    kind = sniff(buf)
    if kind == "ppm":
        try:
            return decode_ppm(buf)[0]
        except CodecUnavailable:
            raise
        except Exception as exc:
            # Truncated/corrupt bytes behind a valid magic must surface
            # as the one catchable type the per-row error paths gate on
            # (decode_failed = true), never a raw ValueError/struct.error
            # that would fail the whole Spark task.
            raise CodecUnavailable(f"corrupt PPM: {exc}") from exc
    if kind == "bmp":
        try:
            return decode_bmp(buf)
        except CodecUnavailable:
            raise
        except Exception as exc:
            raise CodecUnavailable(f"corrupt BMP: {exc}") from exc
    if kind == "png":
        from .png import decode_png

        try:
            return decode_png(buf)
        except CodecUnavailable:
            raise
        except Exception as exc:
            # Corrupt bytes behind a valid magic: surface the single
            # catchable type the pipeline gates on, not decoder internals.
            raise CodecUnavailable(f"corrupt PNG: {exc}") from exc
    if kind == "gif":
        from .gif import decode_gif_first_frame

        try:
            return decode_gif_first_frame(buf)
        except CodecUnavailable:
            raise
        except Exception as exc:
            raise CodecUnavailable(f"corrupt GIF: {exc}") from exc
    if kind == "jpeg":
        from .jpeg import decode_jpeg

        try:
            return decode_jpeg(buf)
        except CodecUnavailable:
            raise
        except Exception as exc:
            raise CodecUnavailable(f"corrupt JPEG: {exc}") from exc
    if kind == "tiff":
        from .tiff import decode_tiff

        try:
            return decode_tiff(buf)
        except CodecUnavailable:
            raise
        except Exception as exc:
            raise CodecUnavailable(f"corrupt TIFF: {exc}") from exc
    if kind == "webp":
        from .webp import decode_webp

        try:
            return decode_webp(buf)
        except CodecUnavailable:
            raise
        except Exception as exc:
            raise CodecUnavailable(f"corrupt WebP: {exc}") from exc
    try:  # optional-library upgrade (absent in this container)
        import io

        from PIL import Image  # type: ignore

        return np.asarray(Image.open(io.BytesIO(buf)).convert("RGB"))
    except ImportError:
        raise CodecUnavailable(
            "bytes are not PPM/BMP and PIL is not installed"
        ) from None


def resize_bilinear(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Vectorized bilinear resample (align_corners=False convention)."""
    h, w = img.shape[:2]
    ys = (np.arange(height) + 0.5) * h / height - 0.5
    xs = (np.arange(width) + 0.5) * w / width - 0.5
    y0 = np.clip(np.floor(ys).astype(int), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(int), 0, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = np.clip(ys - y0, 0, 1)[:, None, None]
    wx = np.clip(xs - x0, 0, 1)[None, :, None]
    img = img.astype(np.float64)
    top = img[y0][:, x0] * (1 - wx) + img[y0][:, x1] * wx
    bot = img[y1][:, x0] * (1 - wx) + img[y1][:, x1] * wx
    return np.clip(np.round(top * (1 - wy) + bot * wy), 0, 255).astype(np.uint8)
