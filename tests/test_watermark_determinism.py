"""Tight-watermark determinism (the lossy configuration).

With a watermark delay far smaller than the stream's arrival disorder,
beyond-watermark rows are *dropped* — deterministically, given the same
input stream + watermark progression (BASELINE.json north_rule). The
engine's drain with maxFilesPerTrigger=1 over mtime-ordered files must
equal the faithful micro-batch/watermark simulator
(oracle/pandas_pipeline.microbatch_reference) replaying the same file
sequence.

The same holds across a state-TTL eviction: a conversation quiet for
longer than ``state_ttl_ms`` of event time restarts at ``emit_seq`` 0.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dataflow_mm_lrt_spark.datagen import (
    GenSpec,
    append_punctuation_file,
    generate_transcripts,
)
from dataflow_mm_lrt_spark.oracle.pandas_pipeline import microbatch_reference
from dataflow_mm_lrt_spark.streaming.run import PipelineConfig, run_pipeline
from test_bucket_assembly import (
    DELAY_MS,
    SLACK_MS,
    TTL_GAP_EXPECTED,
    TTL_MS,
    ttl_gap_batches,
)

WATERMARK_DELAY_MS = 30 * 60 * 1000  # 30 minutes — far below disorder
ORDER_SLACK_MS = 120_000


@pytest.fixture(scope="module")
def lossy_ds(tmp_path_factory):
    d = tmp_path_factory.mktemp("lossy_ds")
    tr = generate_transcripts(GenSpec(n_convs=40))
    os.makedirs(d / "transcripts")
    n_files = 5
    chunk = (len(tr) + n_files - 1) // n_files
    table = pa.Table.from_pandas(tr, preserve_index=False)
    file_pdfs = []
    for i in range(0, len(tr), chunk):
        fp = str(d / "transcripts" / f"part-{i//chunk:05d}.parquet")
        pq.write_table(table.slice(i, chunk), fp)
        os.utime(fp, (1_700_000_000 + i // chunk,) * 2)
        file_pdfs.append(tr.iloc[i : i + chunk].reset_index(drop=True))
    punct_ts = tr["ts"].max().to_datetime64() + np.timedelta64(30, "D")
    append_punctuation_file(str(d / "transcripts"), punct_ts)
    punct = pd.DataFrame(
        {
            "conv_id": ["__punctuation__"],
            "turn_idx": np.array([0], dtype=np.int32),
            "role": ["system"],
            "text": ["heartbeat"],
            "tool": pd.Series([None], dtype=object),
            "ts": pd.Series([pd.Timestamp(punct_ts)]),
        }
    )
    file_pdfs.append(punct)
    return d, file_pdfs


def test_lossy_drain_matches_microbatch_simulator(spark, lossy_ds, tmp_path):
    d, file_pdfs = lossy_ds
    cfg = PipelineConfig(
        watermark_delay="30 minutes",
        order_slack_ms=ORDER_SLACK_MS,
        max_files_per_trigger=1,
    )
    sink, _ = run_pipeline(spark, str(d / "transcripts"), str(tmp_path / "out"), cfg)
    got = sink.read_committed(spark).toPandas()
    got = got[got.conv_id != "__punctuation__"]
    got = got.sort_values(["conv_id", "emit_seq"]).reset_index(drop=True)

    exp = microbatch_reference(
        file_pdfs,
        watermark_delay_ms=WATERMARK_DELAY_MS,
        order_slack_ms=ORDER_SLACK_MS,
    )
    exp = exp[exp.conv_id != "__punctuation__"]
    exp = exp.sort_values(["conv_id", "emit_seq"]).reset_index(drop=True)

    assert len(got) > 0
    assert len(got) == len(exp), f"{len(got)} vs {len(exp)}"
    for col in ["conv_id", "turn_idx", "role", "text", "emit_seq"]:
        assert (got[col].to_numpy() == exp[col].to_numpy()).all(), col
    got_ts = got["ts"].to_numpy(dtype="datetime64[us]")
    exp_ts = exp["ts"].to_numpy(dtype="datetime64[us]")
    assert (got_ts == exp_ts).all()


def test_ttl_eviction_restarts_emit_seq(spark, tmp_path):
    """One small drain of ``ttl_gap_batches`` (one file per micro-batch):
    ``G`` is evicted after a quiet spell longer than the TTL and its
    repeat is emitted again at emit_seq 0, while ``A``, whose TTL
    timeout only equals the watermark, continues at 1. Each turn lands
    in the epoch the Spark-free runner of test_bucket_assembly.py
    predicts."""
    batches = ttl_gap_batches()
    src = tmp_path / "in"
    os.makedirs(src)
    for i, pdf in enumerate(batches):
        fp = str(src / f"part-{i:05d}.parquet")
        # an all-null tool column must still be written as strings
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        table = table.set_column(4, "tool", table["tool"].cast(pa.string()))
        pq.write_table(table, fp)
        os.utime(fp, (1_700_000_000 + i,) * 2)
    cfg = PipelineConfig(
        watermark_delay=f"{DELAY_MS // 60_000} minutes",
        order_slack_ms=SLACK_MS,
        state_ttl_ms=TTL_MS,
        max_files_per_trigger=1,
    )
    sink, _ = run_pipeline(spark, str(src), str(tmp_path / "out"), cfg)
    got = pd.concat(
        pq.read_table(f"{sink.data_dir}/epoch={m['epoch']:010d}/{p['file']}")
        .to_pandas()
        .assign(batch=m["epoch"])
        for m in sink.manifests()
        for p in m["partitions"]
    )
    order = ["conv_id", "turn_idx", "emit_seq"]
    got = got[got.conv_id != "P"].sort_values(order)
    # emit_seq and the micro-batch (sink epoch) that emitted each turn
    assert {
        (c, int(t)): (int(s), int(b))
        for c, t, s, b in zip(got.conv_id, got.turn_idx, got.emit_seq, got.batch)
    } == TTL_GAP_EXPECTED

    exp = microbatch_reference(
        batches, DELAY_MS, SLACK_MS, state_ttl_ms=TTL_MS
    )
    exp = exp[exp.conv_id != "P"].sort_values(order)
    for col in ["conv_id", "turn_idx", "text", "emit_seq"]:
        assert got[col].tolist() == exp[col].tolist(), col
