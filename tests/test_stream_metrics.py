"""ProgressRecorder (streaming/metrics.py): per-micro-batch progress →
restart-safe JSONL trail + summary — the "metrics intact" half of the
lineage+metrics story (sink manifests carry per-partition lineage)."""

from __future__ import annotations

import os

import numpy as np

from dataflow_mm_lrt_spark.datagen import (
    GenSpec,
    append_punctuation_file,
    generate_transcripts,
)
from dataflow_mm_lrt_spark.streaming.metrics import read_metrics, summarize
from dataflow_mm_lrt_spark.streaming.run import PipelineConfig, run_pipeline
from dataflow_mm_lrt_spark.streaming.stateful import N_BUCKETS


def _mk_dataset(tmp_path, n_convs=30, n_files=4, tr=None):
    if tr is None:
        tr = generate_transcripts(GenSpec(n_convs=n_convs))
    d = tmp_path / "transcripts"
    os.makedirs(d)
    import pyarrow as pa
    import pyarrow.parquet as pq

    chunk = (len(tr) + n_files - 1) // n_files
    table = pa.Table.from_pandas(tr, preserve_index=False)
    for i in range(0, len(tr), chunk):
        fp = str(d / f"part-{i//chunk:05d}.parquet")
        pq.write_table(table.slice(i, chunk), fp)
        os.utime(fp, (1_700_000_000 + i // chunk,) * 2)
    punct_ts = tr["ts"].max().to_datetime64() + np.timedelta64(30, "D")
    append_punctuation_file(str(d), punct_ts)
    return str(d), tr


def test_progress_trail_and_summary(spark, tmp_path):
    in_dir, tr = _mk_dataset(tmp_path)
    out = str(tmp_path / "out")
    cfg = PipelineConfig(watermark_delay="72 hours", max_files_per_trigger=2)
    sink, _ = run_pipeline(spark, in_dir, out, cfg)

    mdir = os.path.join(out, "metrics")
    rows = read_metrics(mdir)
    events = [r["event"] for r in rows]
    assert events[0] == "started"
    assert "terminated" in events  # wait_terminated drained the bus
    progress = [r for r in rows if r["event"] == "progress"]
    assert len(progress) >= 2  # multi-batch drain (max_files_per_trigger=2)

    # the engine's own payload fields the dashboard needs are present
    p = progress[0]
    assert "numInputRows" in p and "durationMs" in p and "stateOperators" in p

    stats = summarize(mdir)
    assert stats["batches"] == len(progress)
    # every non-punctuation input row passed through the recorder
    assert stats["input_rows"] >= len(tr)
    assert stats["state_rows_peak"] > 0  # stateful assembly held state
    assert stats["rows_per_sec_overall"] > 0
    assert stats["runs"] == 1

    # watermark advances monotonically across the recorded batches
    wms = [
        r["eventTime"]["watermark"]
        for r in progress
        if r.get("eventTime", {}).get("watermark")
    ]
    assert wms == sorted(wms) and len(wms) >= 1


def test_trail_extends_across_restart(spark, tmp_path):
    in_dir, tr = _mk_dataset(tmp_path)
    out = str(tmp_path / "out")
    cfg = PipelineConfig(watermark_delay="72 hours", max_files_per_trigger=2)
    run_pipeline(spark, in_dir, out, cfg)
    first = summarize(os.path.join(out, "metrics"))
    # re-drain against the same checkpoint: a restarted query appends to
    # the same trail (exactly-once replay emits nothing new, but the
    # run is recorded)
    run_pipeline(spark, in_dir, out, cfg)
    second = summarize(os.path.join(out, "metrics"))
    assert second["runs"] == first["runs"] + 1
    assert second["batches"] >= first["batches"]


def test_state_rows_bounded_by_bucket_count(spark, transcripts_pdf, tmp_path):
    """The assembly state holds one row per hash bucket, not one per
    conversation: draining the 80-conversation fixture never records
    more than N_BUCKETS state rows."""
    assert transcripts_pdf["conv_id"].nunique() > N_BUCKETS
    in_dir, _ = _mk_dataset(tmp_path, tr=transcripts_pdf)
    out = str(tmp_path / "out")
    cfg = PipelineConfig(watermark_delay="72 hours", max_files_per_trigger=2)
    run_pipeline(spark, in_dir, out, cfg)
    stats = summarize(os.path.join(out, "metrics"))
    assert 0 < stats["state_rows_peak"] <= N_BUCKETS, stats
