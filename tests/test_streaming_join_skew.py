"""Stream-stream join (turns ⋈ tool events), streaming session windows
and the streaming AS-OF join: streaming output must equal the batch
plan on the same input (Catalyst batch join/agg is the trusted oracle
here)."""

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
    generate_tool_events,
    generate_transcripts,
)
from dataflow_mm_lrt_spark.streaming.join import turns_with_tool_events
from dataflow_mm_lrt_spark.streaming.source import (
    TOOL_EVENT_SCHEMA,
    TRANSCRIPT_SCHEMA,
    tool_event_stream,
    transcript_stream,
)

EV_SCHEMA_PA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("tool", pa.string()),
        ("payload", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


@pytest.fixture(scope="module")
def join_ds(tmp_path_factory):
    d = tmp_path_factory.mktemp("join_ds")
    tr = generate_transcripts(GenSpec(n_convs=40))
    ev = generate_tool_events(tr)
    os.makedirs(d / "transcripts")
    os.makedirs(d / "tool_events")
    for name, pdf, schema in (
        ("transcripts", tr, None),
        ("tool_events", ev, EV_SCHEMA_PA),
    ):
        n_files = 4
        chunk = (len(pdf) + n_files - 1) // n_files
        t = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
        for i in range(0, len(pdf), chunk):
            fp = str(d / name / f"part-{i//chunk:05d}.parquet")
            pq.write_table(t.slice(i, chunk), fp)
            os.utime(fp, (1_700_000_000 + i // chunk,) * 2)
    punct_ts = tr["ts"].max().to_datetime64() + np.timedelta64(30, "D")
    append_punctuation_file(str(d / "transcripts"), punct_ts)
    # matching punctuation on the event side so both watermarks advance
    pdf = pd.DataFrame(
        {
            "conv_id": ["__punctuation__"],
            "turn_idx": np.array([0], dtype=np.int32),
            "tool": ["search"],
            "payload": ["{}"],
            "ts": pd.Series([pd.Timestamp(punct_ts)]),
        }
    )
    fp = str(d / "tool_events" / "part-zz-punctuation.parquet")
    pq.write_table(pa.Table.from_pandas(pdf, schema=EV_SCHEMA_PA, preserve_index=False), fp)
    os.utime(fp, (1_800_000_000,) * 2)
    return d


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[pdf.conv_id != "__punctuation__"].copy()
    pdf["tool_payload"] = pdf["tool_payload"].fillna("<null>")
    cols = ["conv_id", "turn_idx", "ts", "tool_payload"]
    return pdf[cols].sort_values(cols).reset_index(drop=True)


def test_stream_stream_join_matches_batch(spark, join_ds, tmp_path):
    d = join_ds
    # batch oracle: same plan API on static frames
    bt = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(str(d / "transcripts"))
    be = spark.read.schema(TOOL_EVENT_SCHEMA).parquet(str(d / "tool_events"))
    batch = turns_with_tool_events(bt, be).toPandas()

    st = transcript_stream(spark, str(d / "transcripts"), max_files_per_trigger=2)
    se = tool_event_stream(spark, str(d / "tool_events"), max_files_per_trigger=2)
    out = turns_with_tool_events(
        st, se, turn_watermark="72 hours", event_watermark="72 hours"
    )
    q = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "join_out"))
        .option("checkpointLocation", str(tmp_path / "join_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream = spark.read.parquet(str(tmp_path / "join_out")).toPandas()

    g, e = _canon(stream), _canon(batch)
    assert len(g) == len(e), f"{len(g)} vs {len(e)}"
    for c in g.columns:
        assert (g[c].to_numpy() == e[c].to_numpy()).all(), c


def test_streaming_session_windows_match_batch(spark, join_ds, tmp_path):
    from dataflow_mm_lrt_spark.operators.windows import transcript_sessions

    d = join_ds
    bt = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(str(d / "transcripts"))
    batch = transcript_sessions(bt).toPandas()

    st = transcript_stream(spark, str(d / "transcripts"), max_files_per_trigger=2)
    out = transcript_sessions(st, watermark_delay="72 hours")
    q = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "sess_out"))
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream = spark.read.parquet(str(tmp_path / "sess_out")).toPandas()

    def canon(pdf):
        pdf = pdf[pdf.conv_id != "__punctuation__"]
        return pdf.sort_values(["conv_id", "session_start"]).reset_index(drop=True)

    g, e = canon(stream), canon(batch)
    assert len(g) == len(e), f"{len(g)} vs {len(e)}"
    for c in ["conv_id", "session_start", "n_turns", "turn_trail"]:
        assert (g[c].to_numpy() == e[c].to_numpy()).all(), c


def test_streaming_asof_matches_batch_asof_join(spark, join_ds, tmp_path):
    """asof_tool_context (range join + greatest-struct agg, two chained
    watermark-evictable stateful ops) must equal the batch union-scan
    asof_join row-for-row — including the deterministic tie rule."""
    from dataflow_mm_lrt_spark.operators.joins import asof_join
    from dataflow_mm_lrt_spark.streaming.join import asof_tool_context

    # tolerance bounds BOTH the match window and the join's output-
    # watermark delay (state must wait TOL past the turn): keep it small
    # relative to the punctuation horizon or downstream agg never emits
    TOL = 7200

    d = join_ds
    bt = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(str(d / "transcripts"))
    be = spark.read.schema(TOOL_EVENT_SCHEMA).parquet(str(d / "tool_events"))
    batch = asof_join(
        bt,
        be.select("conv_id", "tool", "payload", "ts"),
        key_cols=["conv_id"],
        ts_col="ts",
        tolerance_seconds=TOL,
    ).select(
        "conv_id", "turn_idx", "ts", "tool_right", "payload_right", "ts_right"
    ).toPandas()
    # the same composed plan in batch mode is itself a parity point
    batch2 = asof_tool_context(bt, be, tolerance_seconds=TOL).select(
        "conv_id", "turn_idx", "ts", "tool_right", "payload_right", "ts_right"
    ).toPandas()

    st = transcript_stream(spark, str(d / "transcripts"), max_files_per_trigger=2)
    se = tool_event_stream(spark, str(d / "tool_events"), max_files_per_trigger=2)
    out = asof_tool_context(
        st, se, tolerance_seconds=TOL,
        turn_watermark="72 hours", event_watermark="72 hours",
    ).select("conv_id", "turn_idx", "ts", "tool_right", "payload_right", "ts_right")
    q = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "asof_out"))
        .option("checkpointLocation", str(tmp_path / "asof_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream = spark.read.parquet(str(tmp_path / "asof_out")).toPandas()

    def canon(pdf):
        pdf = pdf[pdf.conv_id != "__punctuation__"].copy()
        for c in ("tool_right", "payload_right"):
            pdf[c] = pdf[c].fillna("<null>")
        pdf["ts_right"] = pdf["ts_right"].fillna(pd.Timestamp("1970-01-01"))
        cols = ["conv_id", "turn_idx", "ts", "tool_right", "payload_right", "ts_right"]
        return pdf[cols].sort_values(cols).reset_index(drop=True)

    g, e1, e2 = canon(stream), canon(batch), canon(batch2)
    assert len(g) == len(e1) == len(e2), (len(g), len(e1), len(e2))
    for c in g.columns:
        gv = g[c].to_numpy()
        assert (gv == e2[c].to_numpy()).all(), f"stream vs composed-batch: {c}"
        assert (gv == e1[c].to_numpy()).all(), f"stream vs union-scan asof: {c}"
