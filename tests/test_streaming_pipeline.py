"""End-to-end streaming pipeline correctness (FIXTURES.md §4):

* lossless parity: availableNow drain with watermark delay > max
  lateness + punctuation row == batch pandas reference, per-turn text
  equality under stable (conv_id, turn_idx) ordering;
* checkpoint restart: two half-runs against one checkpoint == single
  full run;
* exactly-once: re-draining the same input is a no-op; sink manifests
  carry per-partition lineage;
* a checkpoint whose assembly state is keyed per conversation does not
  restart under the hash-bucket key.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pytest

from dataflow_mm_lrt_spark.datagen import (
    GenSpec,
    append_punctuation_file,
    generate_transcripts,
)
from dataflow_mm_lrt_spark.oracle.pandas_pipeline import batch_reference
from dataflow_mm_lrt_spark.streaming.run import (
    PipelineConfig,
    build_pipeline,
    clean_stages,
    run_pipeline,
)
from dataflow_mm_lrt_spark.streaming.source import transcript_stream
from dataflow_mm_lrt_spark.streaming.stateful import (
    ASSEMBLED_SCHEMA,
    STATE_SCHEMA,
    make_assembly_func,
)

# lossless contract: the watermark delay must exceed the dataset's total
# arrival disorder (rows are emitted in globally shuffled order over a
# ~34h event-time span), so no row is ever beyond-watermark on arrival
CFG = PipelineConfig(watermark_delay="72 hours", max_files_per_trigger=2)


def _drain(spark, in_dir, out_dir):
    sink, q = run_pipeline(spark, in_dir, out_dir, CFG)
    return sink


def _emitted(sink, spark) -> pd.DataFrame:
    pdf = sink.read_committed(spark).toPandas()
    pdf = pdf[pdf.conv_id != "__punctuation__"]
    return pdf.sort_values(["conv_id", "emit_seq"]).reset_index(drop=True)


@pytest.fixture(scope="module")
def dataset(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_ds")
    tr = generate_transcripts(GenSpec(n_convs=60))
    os.makedirs(d / "transcripts")
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_files = 6
    chunk = (len(tr) + n_files - 1) // n_files
    table = pa.Table.from_pandas(tr, preserve_index=False)
    for i in range(0, len(tr), chunk):
        fp = str(d / "transcripts" / f"part-{i//chunk:05d}.parquet")
        pq.write_table(table.slice(i, chunk), fp)
        os.utime(fp, (1_700_000_000 + i // chunk, 1_700_000_000 + i // chunk))
    punct_ts = tr["ts"].max().to_datetime64() + np.timedelta64(30, "D")
    append_punctuation_file(str(d / "transcripts"), punct_ts)
    return d, tr


def test_stream_matches_batch_reference(spark, dataset, tmp_path):
    d, tr = dataset
    sink = _drain(spark, str(d / "transcripts"), str(tmp_path / "out"))
    got = _emitted(sink, spark)
    exp = batch_reference(tr).sort_values(["conv_id", "emit_seq"]).reset_index(drop=True)

    assert len(got) == len(exp), f"{len(got)} vs {len(exp)}"
    for col in ["conv_id", "turn_idx", "role", "text", "emit_seq"]:
        assert (got[col].to_numpy() == exp[col].to_numpy()).all(), col
    # per-turn text equality under stable (conv_id, turn_idx) ordering
    got_ts = got["ts"].to_numpy(dtype="datetime64[us]")
    exp_ts = exp["ts"].to_numpy(dtype="datetime64[us]")
    assert (got_ts == exp_ts).all()
    tool_eq = (got["tool"].isna() & exp["tool"].isna()) | (got["tool"] == exp["tool"])
    assert tool_eq.all()


def test_checkpoint_restart_resumes(spark, dataset, tmp_path):
    d, tr = dataset
    src = d / "transcripts"
    files = sorted(os.listdir(src))
    half_dir = tmp_path / "half_in"
    os.makedirs(half_dir)
    out_dir = str(tmp_path / "out")

    # phase 1: only the first half of the files exists
    for f in files[: len(files) // 2]:
        shutil.copy2(src / f, half_dir / f)
    sink1 = _drain(spark, str(half_dir), out_dir)
    n_phase1 = len(_emitted(sink1, spark))

    # phase 2: remaining files arrive; same checkpoint + sink resume
    for f in files[len(files) // 2 :]:
        shutil.copy2(src / f, half_dir / f)
    sink2 = _drain(spark, str(half_dir), out_dir)
    got = _emitted(sink2, spark)

    exp = batch_reference(tr).sort_values(["conv_id", "emit_seq"]).reset_index(drop=True)
    assert len(got) == len(exp)
    assert n_phase1 < len(got)  # phase 1 emitted a strict subset
    for col in ["conv_id", "turn_idx", "text", "emit_seq"]:
        assert (got[col].to_numpy() == exp[col].to_numpy()).all(), col


def test_exactly_once_replay_noop(spark, dataset, tmp_path):
    d, tr = dataset
    out_dir = str(tmp_path / "out")
    sink1 = _drain(spark, str(d / "transcripts"), out_dir)
    epochs1 = sink1.committed_epochs()
    rows1 = len(_emitted(sink1, spark))

    # second availableNow run over the same drained input: no new data,
    # no new epochs with rows, output unchanged
    sink2 = _drain(spark, str(d / "transcripts"), out_dir)
    rows2 = len(_emitted(sink2, spark))
    assert rows2 == rows1
    new_epochs = [e for e in sink2.committed_epochs() if e not in epochs1]
    for m in sink2.manifests():
        if m["epoch"] in new_epochs:
            assert m["n_rows"] == 0


def test_manifest_lineage(spark, dataset, tmp_path):
    d, tr = dataset
    sink = _drain(spark, str(d / "transcripts"), str(tmp_path / "out"))
    ms = sink.manifests()
    assert len(ms) >= 1
    total = sum(m["n_rows"] for m in ms)
    assert total == len(sink.read_committed(spark).toPandas())
    for m in ms:
        assert sum(p["rows"] for p in m["partitions"]) == m["n_rows"]
        if m["n_rows"]:
            assert m["ts_min"] is not None and m["ts_max"] is not None


def test_per_conversation_checkpoint_refused(spark, dataset, tmp_path):
    """State keyed by conv_id (the layout before hash buckets) meets the
    bucket key on restart: Spark refuses the changed key schema before
    any state reaches Python."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.streaming.state import GroupStateTimeout

    d, _ = dataset
    src, files = d / "transcripts", sorted(os.listdir(d / "transcripts"))
    in_dir, ck = tmp_path / "in", str(tmp_path / "checkpoint")
    os.makedirs(in_dir)

    def drain(df):
        q = (
            df.writeStream.format("noop")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    shutil.copy2(src / files[0], in_dir / files[0])
    turns = clean_stages(transcript_stream(spark, str(in_dir)), CFG)
    drain(
        turns.withWatermark("ts", CFG.watermark_delay)
        .groupBy("conv_id")
        .applyInPandasWithState(
            make_assembly_func(CFG.order_slack_ms, CFG.state_ttl_ms),
            ASSEMBLED_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    shutil.copy2(src / files[1], in_dir / files[1])
    with pytest.raises(StreamingQueryException, match="STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"):
        drain(build_pipeline(transcript_stream(spark, str(in_dir)), CFG))
