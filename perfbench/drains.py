"""Closed-loop drain workloads (one client, one drain at a time).

``drain_bulk``        default GenSpec shape, shuffled arrival, exact dedup.
``drain_hot_neardup`` few very long conversations, near-dup gate on.

Both run ``streaming.run.run_pipeline`` with
``PipelineConfig(watermark_delay="72 hours", max_files_per_trigger=None)``
over multi-file input plus the punctuation row, as ``bench.py`` does.
The traced mode times the layer ladder, a drain through the manifest
sink with a timing wrapper, and the assembly function in-process.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

from common import (
    RssSampler,
    Tracer,
    Window,
    cold_start_s,
    epoch_files,
    median,
    quantile,
    stop_session,
    write_parquet_files,
)
from rowcheck import PUNCTUATION_CONV, digest, read_committed

from dataflow_mm_lrt_spark import datagen
from dataflow_mm_lrt_spark.streaming.run import PipelineConfig

PUNCTUATION_TS = np.datetime64("2026-01-01T00:00:00")
N_FILES = 8
WATERMARK_72H_MS = 72 * 3600 * 1000
BATCH_RUNG_REPS = 3
#: timed drains per run, after one untimed warm-up drain of the same
#: input; the run reports their median (the mean of the two)
N_OPS = 2


@dataclass(frozen=True)
class DrainWorkload:
    spec: datagen.GenSpec
    neardup_threshold: int | None

    @property
    def cfg(self) -> PipelineConfig:
        return PipelineConfig(
            watermark_delay="72 hours",
            max_files_per_trigger=None,
            neardup_threshold=self.neardup_threshold,
        )


WORKLOADS = {
    # default shape: ~1% of conversations hold ~half of the turns
    "drain_bulk": DrainWorkload(datagen.GenSpec(n_convs=600), None),
    # no short-conversation tail: every conversation is thousands of turns
    "drain_hot_neardup": DrainWorkload(
        datagen.GenSpec(n_convs=8, mean_turns=3000, hot_multiplier=1), 3
    ),
}


def make_inputs(wl: DrainWorkload, seed: int, work: str) -> tuple[pd.DataFrame, str]:
    """Generated turns (the program's only input) as N_FILES parquet
    files plus the punctuation file that lets the drain flush state."""
    turns = datagen.generate_transcripts(wl.spec, seed)
    in_dir = os.path.join(work, "input")
    write_parquet_files(turns, in_dir, N_FILES)
    datagen.append_punctuation_file(in_dir, PUNCTUATION_TS)
    return turns, in_dir


def oracle_digest(wl: DrainWorkload, turns: pd.DataFrame) -> tuple[int, int]:
    from dataflow_mm_lrt_spark.oracle import pandas_pipeline as ref
    from dataflow_mm_lrt_spark.streaming.stateful import DEFAULT_ORDER_SLACK_MS

    if wl.neardup_threshold is None:
        return digest(ref.batch_reference(turns))
    # the drain's single data batch holds every file, punctuation included
    punct = pd.DataFrame(
        {
            "conv_id": [PUNCTUATION_CONV],
            "turn_idx": [0],
            "role": ["system"],
            "text": ["heartbeat"],
            "tool": [None],
            "ts": [pd.Timestamp(PUNCTUATION_TS)],
        }
    )
    batch = pd.concat([turns, punct], ignore_index=True)
    return digest(
        ref.microbatch_reference(
            [batch],
            WATERMARK_72H_MS,
            DEFAULT_ORDER_SLACK_MS,
            neardup_threshold=wl.neardup_threshold,
        )
    )


def _drain(spark, in_dir: str, out_dir: str, cfg: PipelineConfig):
    from dataflow_mm_lrt_spark.streaming.run import run_pipeline

    shutil.rmtree(out_dir, ignore_errors=True)
    w = Window()
    sink, _ = run_pipeline(spark, in_dir, out_dir, cfg)
    return sink, w.stop()


def setup(wl: DrainWorkload, in_dir: str, work: str, cores: int):
    """Cold session starts (setup_s), then the untimed warm-up drain.
    Returns (spark, setup_s, warm-up wall seconds)."""
    spark, setup_s = cold_start_s(cores, work)
    _, warm = _drain(spark, in_dir, os.path.join(work, "warm"), wl.cfg)
    return spark, setup_s, warm["wall_s"]


def run(name: str, seed: int, seconds: float, work: str, cores: int) -> dict:
    """Untraced run: N_OPS timed drains (``seconds`` is not used: the
    count is fixed so that every run reports the same statistic)."""
    wl = WORKLOADS[name]
    turns, in_dir = make_inputs(wl, seed, work)
    n_in = len(turns) + 1  # + the punctuation row

    def one_drain(i: int):
        try:
            return _drain(spark, in_dir, os.path.join(work, f"out{i}"), wl.cfg)
        except Exception as exc:  # noqa: BLE001 - a failed drain is counted
            print(f"# drain {i} failed: {type(exc).__name__}: {exc}"[:300])
            return None

    with RssSampler() as rss:
        spark, setup_s, warmup_s = setup(wl, in_dir, work, cores)
        results = [one_drain(i) for i in range(N_OPS)]
    drains = [d for d in results if d is not None]
    digests = [digest(read_committed(sink)) for sink, _ in drains]
    stop_session(spark)
    want = oracle_digest(wl, turns)
    bad = len(results) - len(drains) + sum(d != want for d in digests)
    windows = [r for _, r in drains]
    return {
        "attempted": len(results),
        "failed": bad,
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_mb,
        "ops": windows,
        "windows": windows,
        "named": {
            "turns_per_s": (n_in / median(r["wall_s"] for r in windows), "1/s"),
            "turns_per_core_s": (n_in / median(r["core_s"] for r in windows), "1/core-s"),
            "warmup_s": (warmup_s, "s"),
        },
    }


# -- traced mode -----------------------------------------------------------------


def _noop_batch(tracer: Tracer):
    def write(df, batch_id):
        with tracer.span("sink.noop_batch", batch=batch_id):
            df.write.format("noop").mode("overwrite").save()

    return write


def _stream_rung(spark, in_dir: str, ckpt: str, frame_fn, foreach) -> dict:
    from dataflow_mm_lrt_spark.streaming.source import transcript_stream

    w = Window()
    q = (
        frame_fn(transcript_stream(spark, in_dir, max_files_per_trigger=None))
        .writeStream.outputMode("append")
        .foreachBatch(foreach)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return w.stop()


def ladder(spark, wl: DrainWorkload, in_dir: str, work: str, tracer: Tracer) -> dict:
    """Cumulative rungs, each adding one layer's public call, noop sink:
    scan → +S1 → +S2 → +S3/fp → stateless stream → +stateful."""
    from pyspark.sql import functions as F

    from dataflow_mm_lrt_spark.functions.normalize import strip_multimodal_tokens_sql
    from dataflow_mm_lrt_spark.functions.text_rules import keep_sql
    from dataflow_mm_lrt_spark.streaming.run import build_pipeline, clean_stages
    from dataflow_mm_lrt_spark.streaming.source import TRANSCRIPT_SCHEMA

    cfg = wl.cfg
    scan = lambda: spark.read.schema(TRANSCRIPT_SCHEMA).parquet(in_dir)  # noqa: E731
    strip = lambda: scan().withColumn(  # noqa: E731
        "text", F.expr(strip_multimodal_tokens_sql("spark", "text"))
    )
    batch_rungs = {
        "scan": scan,
        "s1_strip": strip,
        "s2_rules": lambda: strip().filter(F.expr(keep_sql("spark", "text"))),
        "s3_fp": lambda: clean_stages(scan(), cfg),
    }
    rungs = {}
    for name, frame in batch_rungs.items():
        # a batch rung is ~1 s at this input size: best of BATCH_RUNG_REPS
        runs = []
        for _ in range(BATCH_RUNG_REPS):
            with tracer.span(f"ladder.{name}"):
                w = Window()
                frame().write.format("noop").mode("overwrite").save()
                runs.append(w.stop())
        rungs[name] = min(runs, key=lambda r: r["wall_s"])
    with tracer.span("ladder.stream"):
        rungs["stream"] = _stream_rung(
            spark, in_dir, os.path.join(work, "ck_stream"),
            lambda src: clean_stages(src, cfg), _noop_batch(tracer),
        )
    n_noop = len(tracer.spans)
    with tracer.span("ladder.stateful"):
        rungs["stateful"] = _stream_rung(
            spark, in_dir, os.path.join(work, "ck_stateful"),
            lambda src: build_pipeline(src, cfg), _noop_batch(tracer),
        )
    rungs["stateful"]["noop_sink_s"] = sum(
        s["end"] - s["start"]
        for s in tracer.spans[n_noop:]
        if s["name"] == "sink.noop_batch"
    )
    counts = {
        "s1": strip().count(),
        "s2": batch_rungs["s2_rules"]().count(),
    }
    return {"rungs": rungs, "counts": counts}


def traced_drain(spark, wl: DrainWorkload, in_dir: str, out_dir: str, tracer: Tracer):
    """The full drain (build_pipeline + ManifestSink + ProgressRecorder, as
    run_pipeline wires them) with write_batch wrapped in a span."""
    from dataflow_mm_lrt_spark.streaming.metrics import ProgressRecorder, read_metrics
    from dataflow_mm_lrt_spark.streaming.run import build_pipeline
    from dataflow_mm_lrt_spark.streaming.sink import ManifestSink
    from dataflow_mm_lrt_spark.streaming.source import transcript_stream

    sink = ManifestSink(os.path.join(out_dir, "sink"))

    def write(df, batch_id):
        with tracer.span("sink.write_batch", batch=batch_id):
            sink.write_batch(df, batch_id)

    rec = ProgressRecorder.attach(spark, os.path.join(out_dir, "metrics"))
    try:
        with tracer.span("drain.traced"):
            w = Window()
            q = (
                build_pipeline(transcript_stream(spark, in_dir, None), wl.cfg)
                .writeStream.outputMode("append")
                .foreachBatch(write)
                .option("checkpointLocation", os.path.join(out_dir, "checkpoint"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            r = w.stop()
        rec.wait_terminated()
    finally:
        rec.detach()
    progress = [
        d for d in read_metrics(os.path.join(out_dir, "metrics"))
        if d.get("event") == "progress"
    ]
    return sink, r, progress


class _GroupState:
    """In-process stand-in for pyspark's GroupState (the attributes the
    assembly function reads and writes)."""

    def __init__(self, wm_ms: int, value=None, timed_out: bool = False):
        self._value = value
        self._wm = wm_ms
        self.hasTimedOut = timed_out
        self.timeout_ms: int | None = None

    @property
    def exists(self) -> bool:
        return self._value is not None

    @property
    def get(self):
        return self._value

    def getCurrentWatermarkMs(self) -> int:
        return self._wm

    def update(self, value) -> None:
        self._value = value

    def remove(self) -> None:
        self._value = None

    def setTimeoutTimestamp(self, ts_ms: int) -> None:
        self.timeout_ms = ts_ms


def in_process(spark, wl: DrainWorkload, in_dir: str, tracer: Tracer) -> dict:
    """Single-core calls of make_assembly_func and trailing_mark over the
    workload's per-conversation groups, replaying the drain's two
    batches: batch 0 buffers every turn (watermark 0), batch 1 fires the
    event-time timeouts and flushes."""
    from dataflow_mm_lrt_spark.operators.dedup import with_simhash
    from dataflow_mm_lrt_spark.streaming.neardup import trailing_mark
    from dataflow_mm_lrt_spark.streaming.run import clean_stages
    from dataflow_mm_lrt_spark.streaming.source import TRANSCRIPT_SCHEMA
    from dataflow_mm_lrt_spark.streaming.stateful import make_assembly_func

    cfg = wl.cfg
    with_sim = with_simhash(
        clean_stages(spark.read.schema(TRANSCRIPT_SCHEMA).parquet(in_dir), cfg)
    ).toPandas()
    cleaned = with_sim if wl.neardup_threshold else with_sim.drop(columns="simhash")
    func = make_assembly_func(
        cfg.order_slack_ms, cfg.state_ttl_ms, neardup_threshold=wl.neardup_threshold
    )
    groups = [(k, g.reset_index(drop=True)) for k, g in cleaned.groupby("conv_id")]
    wm1 = int(cleaned["ts"].max().value // 1_000_000) - WATERMARK_72H_MS
    states, n_out, calls = {}, 0, 0
    with tracer.span("stateful.fn_buffer") as buf_span:
        for key, g in groups:
            st = _GroupState(0)
            n_out += sum(len(o) for o in func((key,), iter([g]), st))
            states[key] = st
            calls += 1
    emitted = []
    with tracer.span("stateful.fn_flush") as flush_span:
        for key, _ in groups:
            prev = states[key]
            if prev.timeout_ms is None or prev.timeout_ms > wm1:
                continue
            st = _GroupState(wm1, prev.get, timed_out=True)
            for o in func((key,), iter([]), st):
                emitted.append(o)
            calls += 1
    n_out += sum(len(o) for o in emitted)
    # the near-dup kernel alone, over each conversation's exact-deduped
    # emission sequence (the input the assembly function hands it)
    seqs = []
    for _, g in with_sim.groupby("conv_id"):
        g = g.sort_values(["turn_idx", "ts"], kind="mergesort")
        g = g[~g["fp"].duplicated()]
        seqs.append(g["simhash"].to_numpy(dtype=np.int64))
    suppressed, ring_max = 0, 0
    threshold = wl.neardup_threshold or 3
    with tracer.span("neardup.mark") as mark_span:
        for h in seqs:
            keep, _, ring = trailing_mark(h, np.empty(0, dtype=np.int64), threshold)
            suppressed += int((~keep).sum())
            ring_max = max(ring_max, len(ring))
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    return {
        "stateful.fn_calls": calls,
        "stateful.fn_buffer_s": dur(buf_span),
        "stateful.fn_flush_s": dur(flush_span),
        "stateful.emitted_frac": n_out / max(len(cleaned), 1),
        "neardup.mark_s": dur(mark_span),
        "neardup.suppressed": suppressed,
        "neardup.ring_len_max": ring_max,
    }


def progress_layers(progress: list[dict]) -> dict:
    """run.* and stateful.state_* from the recorded progress events."""
    dur = lambda k: [d["durationMs"].get(k, 0) for d in progress]  # noqa: E731
    ops = [op for d in progress for op in d.get("stateOperators", [])]
    per_batch = lambda k: [  # noqa: E731
        sum(op.get(k, 0) for op in d.get("stateOperators", [])) for d in progress
    ]
    return {
        "run.batches": len(progress),
        "run.trigger_ms_p50": median(dur("triggerExecution")),
        "run.trigger_ms_p90": quantile(dur("triggerExecution"), 0.9),
        "run.add_batch_ms_p50": median(dur("addBatch")),
        "run.wal_commit_ms_p50": median(dur("walCommit")),
        "run.commit_offsets_ms_p50": median(dur("commitOffsets")),
        "run.query_planning_ms_p50": median(dur("queryPlanning")),
        "stateful.state_rows_peak": max(per_batch("numRowsTotal"), default=0),
        "stateful.state_bytes_peak": max(per_batch("memoryUsedBytes"), default=0),
        "stateful.state_update_ms_sum": sum(op.get("allUpdatesTimeMs", 0) for op in ops),
        "stateful.state_commit_ms_p50": median(per_batch("commitTimeMs")),
    }


def sink_layers(sink, tracer: Tracer) -> dict:
    ms = [1000 * d for d in tracer.durations("sink.write_batch")]
    return {
        "sink.write_batch_ms_p50": median(ms),
        "sink.write_batch_ms_max": max(ms, default=0.0),
        "sink.bytes_written": sum(
            p["bytes"] for m in sink.manifests() for p in m["partitions"]
        ),
    }


def run_traced(name: str, seed: int, seconds: float, work: str, cores: int) -> dict:
    """Traced run: ladder, one untraced and one traced drain, in-process
    assembly; every drain's output is checked against the oracle."""
    wl = WORKLOADS[name]
    tracer = Tracer()
    turns, in_dir = make_inputs(wl, seed, work)
    spark, setup_s, _ = setup(wl, in_dir, work, cores)
    lad = ladder(spark, wl, in_dir, work, tracer)
    # the untraced and traced drains run back to back, both warm
    with tracer.span("drain.untraced"):
        sink_u, plain = _drain(spark, in_dir, os.path.join(work, "plain"), wl.cfg)
    out_dir = os.path.join(work, "traced")
    sink_t, traced, progress = traced_drain(spark, wl, in_dir, out_dir, tracer)
    layers = in_process(spark, wl, in_dir, tracer)
    layers.update(progress_layers(progress))
    layers.update(sink_layers(sink_t, tracer))
    got = [digest(read_committed(s)) for s in (sink_u, sink_t)]
    files = [len(v) for v in epoch_files(os.path.join(out_dir, "checkpoint")).values() if v]
    stop_session(spark)
    want = oracle_digest(wl, turns)

    r = lad["rungs"]
    sink_self = sum(tracer.durations("sink.write_batch")) - r["stateful"]["noop_sink_s"]
    ladder_sum = r["stateful"]["wall_s"] + sink_self
    layers.update(
        {
            "source.scan_s": r["scan"]["wall_s"],
            "source.files_per_batch_p50": median(files),
            "normalize.strip_s": r["s1_strip"]["wall_s"] - r["scan"]["wall_s"],
            "text_rules.keep_s": r["s2_rules"]["wall_s"] - r["s1_strip"]["wall_s"],
            "text_rules.keep_core_s": r["s2_rules"]["core_s"] - r["s1_strip"]["core_s"],
            "text_rules.kept_frac": lad["counts"]["s2"] / max(lad["counts"]["s1"], 1),
            "run.s3_fp_s": r["s3_fp"]["wall_s"] - r["s2_rules"]["wall_s"],
            "run.stream_overhead_s": r["stream"]["wall_s"] - r["s3_fp"]["wall_s"],
            "stateful.assembly_s": r["stateful"]["wall_s"] - r["stream"]["wall_s"],
            "stateful.assembly_core_s": r["stateful"]["core_s"] - r["stream"]["core_s"],
            "sink.self_s": sink_self,
            "trace.ladder_sum_s": ladder_sum,
            "trace.drain_s": traced["wall_s"],
            "trace.ladder_gap_frac": ladder_sum / traced["wall_s"] - 1.0,
            "trace.overhead_frac": traced["wall_s"] / plain["wall_s"] - 1.0,
        }
    )
    windows = [plain, traced, *r.values()]
    return {
        "attempted": 2,
        "failed": sum(g != want for g in got),
        "setup_s": setup_s,
        "layers": layers,
        "windows": windows,
        "spans": tracer.spans,
        "ladder": r,
    }
