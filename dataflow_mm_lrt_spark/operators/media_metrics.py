"""Per-media metric extraction — the reference's video/audio
metric-filter family, made real by the pure-numpy codecs.

The reference computes these with model/native stacks (decord, opencv,
silero); SURVEY §2 scoped those out for lack of codecs. With
functions/{png,gif,jpeg,codecs}.py decoding real containers, the
classic non-model baselines become implementable end-to-end:

- ``image_metrics``   — brightness/contrast/colorfulness (Hasler &
  Süsstrunk 2003) /sharpness (Laplacian variance), the standard
  no-model image-quality columns the score/range filters consume.
- ``audio_metrics``   — duration/RMS-dB/clipping/silence ratios.
- ``video_info``      — the VideoInfoFilter metadata probe.
- ``resolution_keep`` — the VideoResolutionFilter predicate.

Each backs a contract query. The three decoding stages are
Arrow-batched ``mapInPandas`` stages over opaque binary columns: at
scale the decode cost dominates and parallelism comes from input
splits; ``_spread`` (dedup.py:31) widens narrow inputs to cluster
parallelism first and is a guarded no-op at real scale (splits ≥
cores), so no exchange is added where it wouldn't help.
Downstream filtering composes with the existing schema-tolerant
``range_filter`` (operators/refine.py:80) — that pair IS the
VideoScoreFilter shape (video_score_filter.py:160).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .dedup import _spread
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)


def _luma(frame: np.ndarray) -> np.ndarray:
    f = frame.astype(np.float64)
    return 0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2]


IMAGE_METRICS_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("brightness", DoubleType()),
        StructField("contrast", DoubleType()),
        StructField("colorfulness", DoubleType()),
        StructField("sharpness", DoubleType()),
    ]
)


def image_metrics(df: DataFrame) -> DataFrame:
    """No-model image-quality columns: brightness = mean Rec.601 luma,
    contrast = luma std, colorfulness = Hasler-Süsstrunk M3 metric,
    sharpness = variance of the 3x3 Laplacian of luma (blur proxy)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions import codecs

        for pdf in batches:
            rows = []
            for mid, c in zip(pdf["media_id"], pdf["content"]):
                img = codecs.decode_image(bytes(c or b"")).astype(np.float64)
                y = _luma(img)
                rg = img[..., 0] - img[..., 1]
                yb = 0.5 * (img[..., 0] + img[..., 1]) - img[..., 2]
                colorfulness = float(
                    np.sqrt(rg.std() ** 2 + yb.std() ** 2)
                    + 0.3 * np.sqrt(rg.mean() ** 2 + yb.mean() ** 2)
                )
                if y.shape[0] >= 3 and y.shape[1] >= 3:
                    lap = (
                        y[:-2, 1:-1] + y[2:, 1:-1] + y[1:-1, :-2] + y[1:-1, 2:]
                        - 4 * y[1:-1, 1:-1]
                    )
                    sharp = float(lap.var())
                else:
                    sharp = 0.0
                rows.append(
                    (
                        mid,
                        img.shape[1],
                        img.shape[0],
                        float(y.mean()),
                        float(y.std()),
                        colorfulness,
                        sharp,
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_METRICS_SCHEMA])

    return _spread(df).mapInPandas(run, schema=IMAGE_METRICS_SCHEMA)


AUDIO_METRICS_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("duration_s", DoubleType()),
        StructField("rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("rms_db", DoubleType()),
        StructField("clipping_ratio", DoubleType()),
        StructField("silence_ratio", DoubleType()),
    ]
)


def _frame_rms_db(mono: np.ndarray, rate: int, frame_ms: int) -> np.ndarray:
    """Per-frame RMS in dBFS (full scale = int16 max)."""
    step = max(1, rate * frame_ms // 1000)
    n = len(mono) // step * step
    if n == 0:
        return np.empty(0)
    frames = mono[:n].reshape(-1, step)
    rms = np.sqrt((frames.astype(np.float64) ** 2).mean(axis=1))
    return 20 * np.log10(np.maximum(rms, 1e-9) / 32768.0)


def audio_metrics(
    df: DataFrame, frame_ms: int = 20, silence_db: float = -40.0
) -> DataFrame:
    """Duration, overall RMS level (dBFS), clipping ratio (|s| at the
    int16 rail), and silence ratio (fraction of ``frame_ms`` frames
    under ``silence_db``)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions import codecs

        for pdf in batches:
            rows = []
            for mid, c in zip(pdf["media_id"], pdf["content"]):
                samples, rate = codecs.decode_audio(bytes(c or b""))
                x = samples.astype(np.float64)
                mono = x.mean(axis=1)
                rms = float(np.sqrt((x**2).mean())) if x.size else 0.0
                fdb = _frame_rms_db(mono, rate, frame_ms)
                rows.append(
                    (
                        mid,
                        samples.shape[0] / rate,
                        rate,
                        samples.shape[1],
                        20 * np.log10(max(rms, 1e-9) / 32768.0),
                        float((np.abs(samples) >= 32767).mean())
                        if samples.size
                        else 0.0,
                        float((fdb < silence_db).mean()) if fdb.size else 1.0,
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_METRICS_SCHEMA])

    return _spread(df).mapInPandas(run, schema=AUDIO_METRICS_SCHEMA)


VIDEO_INFO_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("success", BooleanType()),
        StructField("num_frames", IntegerType()),
        StructField("height", IntegerType()),
        StructField("width", IntegerType()),
        StructField("aspect_ratio", DoubleType()),
        StructField("resolution", IntegerType()),
        StructField("fps", DoubleType()),
        StructField("duration_sec", DoubleType()),
    ]
)


def video_info(df: DataFrame) -> DataFrame:
    """Per-video metadata probe — the reference VideoInfoFilter contract
    (video_info_filter.py:38-48 VideoInfo: success, num_frames, height,
    width, aspect_ratio=w/h, resolution=w*h, fps, duration_sec), probed
    from the REAL container instead of cv2: animated GIF carries
    per-frame delays (centiseconds), so duration = Σdelay/100 and
    fps = num_frames/duration (the reference's average-fps definition);
    AVI (strh dwRate/dwScale) and MP4 (mdhd timescale + stts) probe
    their header timing WITHOUT decoding samples — exactly the
    cv2.CAP_PROP probe the reference performs, so even codings we
    cannot pixel-decode (H.264 in MP4, non-MJPG AVI) report metadata;
    raw concatenated-P6 streams carry no timing → fps/duration NULL.
    Undecodable bytes → success=false, all metrics NULL (the reference's
    per-row error path, :139-160 safe_parallel handling)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions import codecs
        from ..functions.gif import probe_gif

        for pdf in batches:
            rows = []
            for mid, c in zip(pdf["media_id"], pdf["content"]):
                buf = bytes(c or b"")
                try:
                    kind = codecs.sniff_video(buf)
                    if kind in ("avi", "mp4"):
                        if kind == "avi":
                            from ..functions.avi import probe_avi as probe
                        else:
                            from ..functions.mp4 import probe_mp4 as probe
                        p = probe(buf)
                        n, w, h = p["n_frames"], p["width"], p["height"]
                        if n < 1 or w < 1 or h < 1:
                            raise codecs.CodecUnavailable("empty video track")
                        rows.append(
                            (mid, True, n, h, w, w / h, w * h,
                             p["fps"], p["duration_sec"])
                        )
                        continue
                    delays = None
                    if kind == "gif":
                        # header walk only (probe_gif): frame count, dims
                        # and per-frame delays all live in the image
                        # descriptors + GCE blocks — decompressing pixels
                        # for a metadata probe was the r6 cost-model wart
                        # (the AVI/MP4 branches above never decode either)
                        n, w, h, delays = probe_gif(buf)
                    else:
                        frames = list(codecs.iter_video_frames(buf))
                        if not frames:
                            raise codecs.CodecUnavailable("no frames")
                        h, w = frames[0].shape[:2]
                        n = len(frames)
                    if n < 1:
                        raise codecs.CodecUnavailable("no frames")
                    if delays is not None and sum(delays) > 0:
                        dur = sum(delays) / 100.0
                        fps = n / dur
                    else:
                        dur, fps = None, None
                    rows.append(
                        (mid, True, n, h, w, w / h, w * h, fps, dur)
                    )
                except Exception:
                    # CodecUnavailable or corrupt container internals —
                    # both are the reference's per-row error path
                    # (success=False), never a task failure
                    rows.append(
                        (mid, False, None, None, None, None, None, None, None)
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in VIDEO_INFO_SCHEMA])

    return _spread(df).mapInPandas(run, schema=VIDEO_INFO_SCHEMA)


def resolution_keep(
    df: DataFrame,
    videos_col: str = "videos",
    min_width: int = 1,
    max_width: int | None = None,
    min_height: int = 1,
    max_height: int | None = None,
    any_or_all: str = "any",
    out_col: str = "passed_filter",
) -> DataFrame:
    """VideoResolutionFilter (video_resolution_filter.py:22-51, 112-155):
    width/height range predicate with the ``any_or_all`` multi-video
    retention strategy over a per-row ``array<struct<width,height>>``.
    The reference's run() handles the single-video degenerate case (one
    path per row, :133-138: non-positive dimensions → not kept); the
    any/all strategy is its documented multi-video config (:26-51, the
    data-juicer semantics it vendors). Pure Catalyst: ``exists`` /
    ``forall`` over the array, no UDF. Empty or NULL video lists are
    not kept under either strategy (a row with no probed video cannot
    pass a resolution gate — matches the reference's error path)."""
    if any_or_all not in ("any", "all"):
        raise ValueError(f"Keep strategy [{any_or_all}] is not supported.")
    max_w = F.lit(max_width) if max_width is not None else F.lit(2**31 - 1)
    max_h = F.lit(max_height) if max_height is not None else F.lit(2**31 - 1)

    def pred(v):
        return (
            (v["width"] > 0) & (v["height"] > 0)
            & (v["width"] >= F.lit(min_width)) & (v["width"] <= max_w)
            & (v["height"] >= F.lit(min_height)) & (v["height"] <= max_h)
        )

    quant = F.exists if any_or_all == "any" else F.forall
    keep = F.when(
        F.col(videos_col).isNotNull() & (F.size(videos_col) > 0),
        quant(F.col(videos_col), pred),
    ).otherwise(F.lit(False))
    return df.withColumn(out_col, keep)
