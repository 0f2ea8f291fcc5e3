"""Multimodal column plumbing (images/audio/video as opaque binary).

The reference loads pixels/waveforms eagerly per row (utils/utils.py:27
``_load_image``; video ops decode in multiprocessing pools). Here media
travel as ``binary`` columns with typed metadata, and decode +
feature-extract runs as one Arrow-batched ``mapInPandas`` stage,
``extract_features``.

The codec path is REAL (functions/codecs.py and its sibling decoders,
pure numpy — no libraries needed): images, WAV audio and video
containers decode and featurize end-to-end. ``fake=True`` keeps the
deterministic content-hash double used by the ``multimodal_features``
contract row (stable across rounds).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)


FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)


def _decode(content: bytes, kind: str, fake: bool) -> np.ndarray:
    if fake:
        # deterministic fake: 8-dim feature seeded by the content digest
        digest = hashlib.md5(content or b"").digest()
        seed = int.from_bytes(digest[:8], "big") % (2**32)
        rng = np.random.default_rng(seed)
        return rng.random(8, dtype=np.float32)

    from ..functions import codecs

    buf = content or b""
    if kind == "image":
        img = codecs.decode_image(buf).astype(np.float64)
        return np.array(
            [img.shape[0], img.shape[1],
             img[..., 0].mean(), img[..., 1].mean(), img[..., 2].mean(),
             img.std(), img.min(), img.max()],
            dtype=np.float32,
        )
    if kind == "audio":
        samples, rate = codecs.decode_audio(buf)
        x = samples.astype(np.float64).mean(axis=1)
        zcr = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) if len(x) > 1 else 0.0
        return np.array(
            [len(x), rate, samples.shape[1], x.mean(), x.std(),
             x.min() if len(x) else 0.0, x.max() if len(x) else 0.0, zcr],
            dtype=np.float32,
        )
    if kind == "video":
        frames = list(codecs.iter_video_frames(buf))
        if not frames:
            raise codecs.CodecUnavailable("empty raw-video stream")
        stack = np.stack([f.astype(np.float64) for f in frames])
        return np.array(
            [len(frames), stack.shape[1], stack.shape[2],
             stack.mean(), stack.std(), stack.min(), stack.max(), 0.0],
            dtype=np.float32,
        )
    raise codecs.CodecUnavailable(f"unknown media kind {kind!r}")


def extract_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """mapInPandas decode/feature stage over binary media rows.

    The Spark-side contract (schema, Arrow batching, partition
    preservation) is real; only the codec body is stubbed.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _decode(c, k, fake)
                for c, k in zip(pdf["content"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["content"].str.len().fillna(0).astype("int32"),
                    "feature": [f.tolist() for f in feats],
                }
            )

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)
