"""Media metric operators over REAL codec bytes, with analytic oracles:
every expected value below is computed by construction of the fixture
(known pixel levels, known frame delays, known sine amplitudes), not by
re-running the operator's own math.
"""

from __future__ import annotations

import numpy as np
import pytest

from dataflow_mm_lrt_spark.functions.codecs import encode_wav
from dataflow_mm_lrt_spark.functions.jpeg import encode_jpeg
from dataflow_mm_lrt_spark.functions.png import encode_png
from dataflow_mm_lrt_spark.operators import media_metrics as mm
from media_fixtures import encode_ppm


def test_image_metrics_flat_vs_textured(spark):
    flat = np.full((16, 16, 3), 100, dtype=np.uint8)
    checker = np.zeros((16, 16, 3), dtype=np.uint8)
    checker[::2, ::2] = 255
    checker[1::2, 1::2] = 255
    rows = [
        ("flat", "image", bytearray(encode_png(flat))),
        ("checker", "image", bytearray(encode_jpeg(checker, quality=100))),
    ]
    df = spark.createDataFrame(
        rows, "media_id string, kind string, content binary"
    )
    out = {r["media_id"]: r for r in mm.image_metrics(df).collect()}
    f, c = out["flat"], out["checker"]
    assert (f["width"], f["height"]) == (16, 16)
    assert f["brightness"] == pytest.approx(100.0, abs=0.01)
    assert f["contrast"] == pytest.approx(0.0, abs=0.01)
    assert f["colorfulness"] == pytest.approx(0.0, abs=0.01)
    assert f["sharpness"] == pytest.approx(0.0, abs=0.01)
    # gray checkerboard: bright ~50% of pixels → brightness ≈ 127.5
    assert c["brightness"] == pytest.approx(127.5, abs=3.0)
    assert c["contrast"] > 100 and c["sharpness"] > 1000
    assert c["colorfulness"] == pytest.approx(0.0, abs=3.0)  # gray = colorless


def _wav_bytes(mono_f64, rate=8000):
    s = np.clip(mono_f64, -32768, 32767).astype(np.int16).reshape(-1, 1)
    return encode_wav(s, rate)


def test_audio_metrics_analytic(spark):
    rate = 8000
    t = np.arange(rate)  # 1 second
    # half silence, half full-scale square wave (RMS = 32767, 0 dBFS)
    x = np.concatenate([np.zeros(rate), 32767.0 * np.sign(np.sin(t / 8.0) + 0.5)])
    x[-rate:] = np.where(x[-rate:] == 0, 32767, x[-rate:])
    df = spark.createDataFrame(
        [("a1", "audio", bytearray(_wav_bytes(x, rate)))],
        "media_id string, kind string, content binary",
    )
    (r,) = mm.audio_metrics(df, frame_ms=20, silence_db=-40.0).collect()
    assert r["duration_s"] == pytest.approx(2.0)
    assert r["rate"] == rate and r["channels"] == 1
    assert r["silence_ratio"] == pytest.approx(0.5, abs=0.02)
    assert r["clipping_ratio"] == pytest.approx(0.5, abs=0.02)
    # overall RMS of (0-half, full-scale-half) = full_scale/sqrt(2) → ≈ -3.01 dB
    assert r["rms_db"] == pytest.approx(-3.01, abs=0.1)


# ------------------------------------------------------------- video_info


def test_video_info_gif_timing_analytic(spark):
    # 3 frames of 16x24 at 5 cs each: duration = 0.15 s, fps = 20
    frames = [np.full((24, 16, 3), v, dtype=np.uint8) for v in (10, 20, 30)]
    from dataflow_mm_lrt_spark.functions.gif import encode_gif

    df = spark.createDataFrame(
        [("v1", bytearray(encode_gif(frames, delay_cs=5)))],
        "media_id string, content binary",
    )
    (r,) = mm.video_info(df).collect()
    assert r["success"] is True
    assert (r["num_frames"], r["width"], r["height"]) == (3, 16, 24)
    assert r["aspect_ratio"] == pytest.approx(16 / 24)
    assert r["resolution"] == 16 * 24
    assert r["duration_sec"] == pytest.approx(0.15)
    assert r["fps"] == pytest.approx(20.0)


def test_video_info_raw_stream_has_no_timing(spark):
    frames = [np.full((8, 8, 3), v, dtype=np.uint8) for v in (1, 2)]
    raw = b"".join(encode_ppm(f) for f in frames)
    df = spark.createDataFrame(
        [("v1", bytearray(raw))], "media_id string, content binary"
    )
    (r,) = mm.video_info(df).collect()
    assert r["success"] and r["num_frames"] == 2
    assert r["fps"] is None and r["duration_sec"] is None


def test_video_info_undecodable_is_honest(spark):
    df = spark.createDataFrame(
        [("bad", bytearray(b"GIF89a\x00corrupt"))],
        "media_id string, content binary",
    )
    (r,) = mm.video_info(df).collect()
    assert r["success"] is False and r["num_frames"] is None


def test_resolution_keep_any_all_truth_table(spark):
    rows = [
        # one passing + one failing video
        ("mixed", [(32, 32), (8, 8)]),
        ("all_pass", [(32, 32), (40, 24)]),
        ("none_pass", [(8, 8)]),
        ("zero_dim", [(0, 32)]),
        ("empty", []),
        ("null", None),
    ]
    df = spark.createDataFrame(
        rows, "media_id string, videos array<struct<width:int,height:int>>"
    )
    got_any = {
        r["media_id"]: r["passed_filter"]
        for r in mm.resolution_keep(
            df, min_width=16, min_height=16, any_or_all="any"
        ).collect()
    }
    got_all = {
        r["media_id"]: r["passed_filter"]
        for r in mm.resolution_keep(
            df, min_width=16, min_height=16, any_or_all="all"
        ).collect()
    }
    assert got_any == {
        "mixed": True, "all_pass": True, "none_pass": False,
        "zero_dim": False, "empty": False, "null": False,
    }
    assert got_all == {
        "mixed": False, "all_pass": True, "none_pass": False,
        "zero_dim": False, "empty": False, "null": False,
    }
    with pytest.raises(ValueError):
        mm.resolution_keep(df, any_or_all="most")
