"""Generate the committed golden parquets for the round-5 contract rows.

Run once (and re-run only if mediagen.py or the testdata change)::

    python tools/gen_media_goldens.py

Three goldens, three independence stories:

* ``goldens/phash.parquet`` (media_id, phash) — pHash of the RAW synth
  image arrays (no codec round-trip; functions/phash.py itself is
  pinned by construction-property tests). The contract oracle computes
  the near-dup MARKING from these hashes by brute-force all-pairs SQL
  (xor + bit_count), independently of the engine's pigeonhole-bucket
  join — and the engine side additionally proves the PNG encode→decode
  round-trip, since it hashes decoded bytes.

* ``goldens/media_metrics.parquet`` — image + audio quality metrics
  reimplemented INLINE here from their published definitions (Rec.601
  luma, Hasler-Süsstrunk colorfulness, Laplacian-variance sharpness,
  RMS dBFS / clipping / silence ratios) over the raw synth arrays —
  independent of operators/media_metrics.py AND of the codecs.

* ``goldens/datatailor.parquet`` — the DataTailor metric columns from
  the from-definition numpy port (oracle/datatailor_port.py), which the
  engine is separately parity-tested against on synthetic fixtures
  (tests/test_datatailor.py). Keyed by (vec_id, corpus_key) where
  corpus_key = md5 of the corpus text in id order, because the driver's
  sf0.001 and sf0.01 fixtures share ids but not content.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataflow_mm_lrt_spark import mediagen
from dataflow_mm_lrt_spark.functions.phash import phash64
from dataflow_mm_lrt_spark.operators.gemm import _round6

GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "dataflow_mm_lrt_spark",
    "goldens",
)
SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def _doc_ids() -> list[int]:
    import duckdb

    ids: set[int] = set()
    for d in SF_DIRS:
        ids |= {
            r[0]
            for r in duckdb.sql(
                f"SELECT doc_id FROM '{d}/documents.parquet'"
            ).fetchall()
        }
    return sorted(ids)


def gen_phash(ids: list[int]) -> None:
    rows = [(i, phash64(mediagen.synth_image(i))) for i in ids]  # already signed 64-bit
    pd.DataFrame(rows, columns=["media_id", "phash"]).to_parquet(
        os.path.join(GOLDEN_DIR, "phash.parquet"), index=False
    )


def gen_media_metrics(ids: list[int]) -> None:
    rows = []
    for i in ids:
        img = mediagen.synth_image(i).astype(np.float64)
        y = 0.299 * img[..., 0] + 0.587 * img[..., 1] + 0.114 * img[..., 2]
        rg = img[..., 0] - img[..., 1]
        yb = 0.5 * (img[..., 0] + img[..., 1]) - img[..., 2]
        colorfulness = np.sqrt(rg.std() ** 2 + yb.std() ** 2) + 0.3 * np.sqrt(
            rg.mean() ** 2 + yb.mean() ** 2
        )
        lap = (
            y[:-2, 1:-1] + y[2:, 1:-1] + y[1:-1, :-2] + y[1:-1, 2:]
            - 4 * y[1:-1, 1:-1]
        )
        samples, rate = mediagen.synth_audio(i)
        x = samples.astype(np.float64)
        mono = x.mean(axis=1)
        rms = np.sqrt((x**2).mean())
        step = rate * 20 // 1000
        n = len(mono) // step * step
        frames = mono[:n].reshape(-1, step)
        fdb = 20 * np.log10(
            np.maximum(np.sqrt((frames**2).mean(axis=1)), 1e-9) / 32768.0
        )
        rows.append(
            (
                str(i),
                img.shape[1],
                img.shape[0],
                float(_round6(np.array(y.mean()))),
                float(_round6(np.array(y.std()))),
                float(_round6(np.array(colorfulness))),
                float(_round6(np.array(lap.var()))),
                float(_round6(np.array(samples.shape[0] / rate))),
                rate,
                samples.shape[1],
                float(_round6(np.array(20 * np.log10(max(rms, 1e-9) / 32768.0)))),
                float(_round6(np.array((np.abs(samples) >= 32767).mean()))),
                float(_round6(np.array((fdb < -40.0).mean()))),
            )
        )
    pd.DataFrame(
        rows,
        columns=[
            "media_id", "width", "height", "brightness", "contrast",
            "colorfulness", "sharpness", "duration_s", "rate", "channels",
            "rms_db", "clipping_ratio", "silence_ratio",
        ],
    ).to_parquet(os.path.join(GOLDEN_DIR, "media_metrics.parquet"), index=False)


def gen_datatailor(keep_ratio: float = 0.7) -> None:
    import duckdb

    from dataflow_mm_lrt_spark.operators.datatailor import token_feature_vector
    from dataflow_mm_lrt_spark.oracle import datatailor_port as port

    frames = []
    for d in SF_DIRS:
        rel = duckdb.sql(
            f"""
            SELECT e.vec_id, e.embedding, d.text
            FROM '{d}/embeddings.parquet' e
            JOIN '{d}/documents.parquet' d ON e.vec_id = d.doc_id
            ORDER BY e.vec_id
            """
        ).df()
        corpus_key = duckdb.sql(
            f"SELECT md5(string_agg(text, '|' ORDER BY doc_id)) "
            f"FROM '{d}/documents.parquet'"
        ).fetchone()[0]
        feats = [
            np.stack([token_feature_vector(w) for w in (t or "").split()])
            if (t or "").split()
            else np.zeros((0, 16))
            for t in rel["text"]
        ]
        X = np.asarray([list(v) for v in rel["embedding"]], dtype=np.float64)
        res = port.run(feats, X, keep_ratio=keep_ratio)
        frames.append(
            pd.DataFrame(
                {
                    "vec_id": rel["vec_id"].astype("int64"),
                    "corpus_key": corpus_key,
                    "informativeness": _round6(res["informativeness"]),
                    "uniqueness": _round6(res["uniqueness"]),
                    "representativeness": _round6(res["representativeness"]),
                    "selected": res["selected"],
                }
            )
        )
        print(f"datatailor golden: {d} key={corpus_key} "
              f"selected={int(res['selected'].sum())}/{len(X)}")
    pd.concat(frames).to_parquet(
        os.path.join(GOLDEN_DIR, "datatailor.parquet"), index=False
    )


if __name__ == "__main__":
    ids = _doc_ids()
    gen_phash(ids)
    print(f"phash golden: {len(ids)} ids")
    gen_media_metrics(ids)
    print(f"media_metrics golden: {len(ids)} ids")
    gen_datatailor()
    print("done")
