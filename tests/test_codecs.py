"""Pure-numpy codecs (functions/codecs.py) + the real (non-fake)
multimodal feature path: PPM/BMP/WAV round-trips, bilinear resize
semantics, concatenated-P6 video frame walking — all with zero media
libraries."""

from __future__ import annotations

import numpy as np
import pytest

from dataflow_mm_lrt_spark.functions import codecs
from media_fixtures import encode_ppm, fake_media_df, real_media_df


def test_ppm_roundtrip():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(11, 7, 3), dtype=np.uint8)
    out, end = codecs.decode_ppm(encode_ppm(img))
    assert (out == img).all() and end == len(encode_ppm(img))


def test_ppm_comments_and_whitespace():
    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    buf = b"P6\n# a comment\n3   2\n# again\n255\n" + img.tobytes()
    out, _ = codecs.decode_ppm(buf)
    assert (out == img).all()


def _bmp_bytes(img: np.ndarray) -> bytes:
    """Hand-rolled 24bpp bottom-up BMP writer (test-only)."""
    import struct

    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    payload = bytearray()
    for row in img[::-1]:  # bottom-up
        line = bytearray(row[:, ::-1].tobytes())  # RGB → BGR
        line += b"\0" * (stride - len(line))
        payload += line
    off = 14 + 40
    header = b"BM" + struct.pack("<IHHI", off + len(payload), 0, 0, off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(payload),
                      2835, 2835, 0, 0)
    return header + dib + bytes(payload)


def test_bmp_decode():
    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, size=(5, 6, 3), dtype=np.uint8)
    assert (codecs.decode_bmp(_bmp_bytes(img)) == img).all()


def test_wav_roundtrip():
    rng = np.random.default_rng(5)
    samples = rng.integers(-30000, 30000, size=(321, 2), dtype=np.int16)
    out, rate = codecs.decode_wav(codecs.encode_wav(samples, 44100))
    assert rate == 44100 and (out == samples).all()


def test_bilinear_identity_and_mean_preservation():
    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    same = codecs.resize_bilinear(img, 16, 16)
    assert (same == img).all()  # identity at equal size
    half = codecs.resize_bilinear(img, 8, 8)
    assert half.shape == (8, 8, 3)
    assert abs(float(half.mean()) - float(img.mean())) < 8.0


def test_bilinear_2x_flat_regions():
    img = np.zeros((2, 2, 3), dtype=np.uint8)
    img[0, 0] = 100
    img[1, 1] = 200
    up = codecs.resize_bilinear(img, 4, 4)
    # corner samples fall inside the original pixels → exact values
    assert up[0, 0, 0] == 100 and up[3, 3, 0] == 200


def test_video_stream_walk():
    rng = np.random.default_rng(7)
    frames = [rng.integers(0, 256, size=(4, 3, 3), dtype=np.uint8) for _ in range(5)]
    buf = b"".join(encode_ppm(f) for f in frames)
    out = list(codecs.iter_ppm_frames(buf))
    assert len(out) == 5 and all((a == b).all() for a, b in zip(out, frames))


def test_unknown_bytes_raise_codec_unavailable():
    with pytest.raises(codecs.CodecUnavailable):
        codecs.decode_image(b"\x89PNG\r\n\x1a\n not really")


# ---------------------------------------------------------------------------
# Spark operators on the REAL path
# ---------------------------------------------------------------------------

def test_extract_features_real(spark):
    from dataflow_mm_lrt_spark.operators.multimodal import extract_features

    df = real_media_df(spark, n=12)
    out = {r["media_id"]: r for r in extract_features(df, fake=False).collect()}
    assert len(out) == 12
    src = {r["media_id"]: r for r in df.collect()}
    for mid, r in out.items():
        f = r["feature"]
        assert len(f) == 8
        if r["kind"] == "image":
            img, _ = codecs.decode_ppm(bytes(src[mid]["content"]))
            assert f[0] == img.shape[0] and f[1] == img.shape[1]
            assert abs(f[2] - img[..., 0].mean()) < 1e-3
        elif r["kind"] == "audio":
            samples, rate = codecs.decode_wav(bytes(src[mid]["content"]))
            assert f[0] == len(samples) and f[1] == rate and f[2] == 2
        else:
            assert f[0] >= 3  # n_frames


def test_resize_bilinear_real_image_roundtrip(spark):
    (row,) = real_media_df(spark, n=3).filter("kind = 'image'").collect()
    img = codecs.decode_image(bytes(row["content"]))
    assert img.shape == (row["height"], row["width"], 3)
    small, _ = codecs.decode_ppm(encode_ppm(codecs.resize_bilinear(img, 4, 5)))
    assert small.shape == (5, 4, 3)


def test_iter_video_frames_real_media(spark):
    videos = real_media_df(spark, n=12).filter("kind = 'video'").collect()
    assert len(videos) == 4
    for r in videos:
        frames = list(codecs.iter_video_frames(bytes(r["content"])))
        assert len(frames) * 40 == r["duration_ms"]
        assert all(f.shape == (r["height"], r["width"], 3) for f in frames)


def test_fake_path_unchanged(spark):
    """The driver contract row runs fake=True — its values must be
    byte-stable across the real-codec change."""
    from dataflow_mm_lrt_spark.operators.multimodal import extract_features

    out = extract_features(fake_media_df(spark, n=4), fake=True).collect()
    assert len(out) == 4 and all(len(r["feature"]) == 8 for r in out)


def test_mediagen_image_rotation_pixel_identical():
    """mediagen.image_bytes rotates the container by id (PNG / WebP /
    TIFF-LZW+pred / TIFF-PackBits-BE / GIF) — every format must decode
    to the raw synth array EXACTLY, or the pixel-derived goldens
    (pHash, image metrics) would silently drift per format."""
    import numpy as np

    from dataflow_mm_lrt_spark import mediagen

    kinds = set()
    for seed in range(8):
        blob = mediagen.image_bytes(seed)
        kinds.add(codecs.sniff(blob))
        assert np.array_equal(
            codecs.decode_image(blob), mediagen.synth_image(seed)
        ), seed
    # both tiff variants sniff alike
    assert kinds == {"png", "webp", "tiff", "gif"}
