"""``stream_steady``: open-loop steady stream into a live query.

Event-time-sorted files are released into the source directory at a
fixed rate by a generator thread (write to a hidden name, then an
atomic rename), on a schedule that does not slow when the engine
slows. The live query is ``build_pipeline`` + ``ManifestSink`` +
``ProgressRecorder`` with a processing-time trigger and the default
``PipelineConfig`` (10-minute watermark, ``max_files_per_trigger=1``).

A file's commit latency runs from its *scheduled* release time to the
``committed_at`` of the sink manifest of the epoch that consumed it
(epoch → files from the checkpoint's ``sources/0`` log), so a stalled
consumer is charged for the wait it imposes on later files. A file
fails when its latency exceeds ``LATENCY_LIMIT_MS`` or it never commits.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

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

from dataflow_mm_lrt_spark import datagen

#: files released per second, below the highest rate the sweep found
#: sustainable (perfbench/sweep.py; recorded in perfbench/results.json)
RATE_FILES_PER_S = 0.25
#: p90 commit-latency limit; a file committed later counts as failed
LATENCY_LIMIT_MS = 5000.0
TRIGGER = "100 milliseconds"
#: conversations in the generated stream and the number of files it is
#: cut into (one file is one micro-batch)
N_CONVS = 200
N_FILES = 60
#: files fed through the live query during set-up
N_WARM = 2
#: how long to wait for the last released file to commit
DRAIN_TIMEOUT_S = 60.0


def make_files(seed: int, work: str) -> list[str]:
    """The generated turns in event-time order, cut into N_FILES files."""
    turns = datagen.generate_transcripts(datagen.GenSpec(n_convs=N_CONVS), seed)
    turns = turns.sort_values("ts", kind="mergesort").reset_index(drop=True)
    return write_parquet_files(turns, os.path.join(work, "staged"), N_FILES)


class Releaser(threading.Thread):
    """Copies file i into src_dir at t0 + i / rate (atomic rename),
    recording its due and actual release times. ``before_release`` is a
    hook the self-tests use to stall the generator."""

    def __init__(self, files, src_dir: str, rate: float, t0: float,
                 prefix: str, before_release=None):
        super().__init__(daemon=True)
        self.files, self.src_dir, self.rate, self.t0 = files, src_dir, rate, t0
        self.prefix = prefix
        self.before_release = before_release
        self.due: dict[str, float] = {}
        self.released: dict[str, float] = {}

    def run(self) -> None:
        for i, f in enumerate(self.files):
            due = self.t0 + i / self.rate
            time.sleep(max(0.0, due - time.time()))
            if self.before_release is not None:
                self.before_release(i)
            name = f"{self.prefix}{i:05d}.parquet"
            tmp = os.path.join(self.src_dir, f".{name}.tmp")
            shutil.copyfile(f, tmp)
            os.rename(tmp, os.path.join(self.src_dir, name))
            self.due[name] = due
            self.released[name] = time.time()

    @property
    def late_ms_max(self) -> float:
        return max(
            (1000 * (self.released[n] - self.due[n]) for n in self.released),
            default=0.0,
        )


def file_latencies_ms(due: dict[str, float], files_by_epoch: dict[int, list[str]],
                      committed_at: dict[int, float]) -> dict[str, float | None]:
    """Per released file: ms from its due time to its epoch's commit
    (None when the file was never committed)."""
    epoch_of = {f: e for e, fs in files_by_epoch.items() for f in fs}
    out = {}
    for name, t_due in due.items():
        e = epoch_of.get(name)
        t = committed_at.get(e) if e is not None else None
        out[name] = None if t is None else 1000 * (t - t_due)
    return out


class LiveQuery:
    """A running query over a fresh source directory, fed by Releasers."""

    def __init__(self, spark, work: str, tag: str, tracer: Tracer | None):
        from dataflow_mm_lrt_spark.streaming.metrics import ProgressRecorder
        from dataflow_mm_lrt_spark.streaming.run import PipelineConfig, build_pipeline
        from dataflow_mm_lrt_spark.streaming.sink import ManifestSink
        from dataflow_mm_lrt_spark.streaming.source import transcript_stream

        self.src_dir = os.path.join(work, f"src_{tag}")
        self.out_dir = os.path.join(work, f"out_{tag}")
        self.ckpt = os.path.join(self.out_dir, "checkpoint")
        os.makedirs(self.src_dir)
        self.sink = sink = ManifestSink(os.path.join(self.out_dir, "sink"))
        if tracer is None:
            foreach = sink.foreach_batch()
        else:
            def foreach(df, batch_id):
                with tracer.span("sink.write_batch", batch=batch_id):
                    sink.write_batch(df, batch_id)
        self.recorder = ProgressRecorder.attach(
            spark, os.path.join(self.out_dir, "metrics")
        )
        cfg = PipelineConfig()
        self.query = (
            build_pipeline(
                transcript_stream(spark, self.src_dir, cfg.max_files_per_trigger), cfg
            )
            .writeStream.outputMode("append")
            .foreachBatch(foreach)
            .option("checkpointLocation", self.ckpt)
            .trigger(processingTime=TRIGGER)
            .start()
        )
        self.n_fed = 0

    def feed(self, files, rate: float, prefix: str) -> Releaser:
        """Release files on schedule, then wait until the query is idle."""
        rel = Releaser(files, self.src_dir, rate, time.time() + 0.2, prefix)
        rel.start()
        rel.join()
        self.n_fed += len(files)
        self._wait_idle()
        return rel

    def _wait_idle(self) -> None:
        """Every consumed file's epoch committed, then no new batch for
        1 s (the query has run its follow-up no-data batch)."""
        deadline = time.time() + DRAIN_TIMEOUT_S
        while time.time() < deadline:
            done = {m["epoch"] for m in self.sink.manifests()}
            fe = epoch_files(self.ckpt)
            if sum(len(v) for v in fe.values()) >= self.n_fed and set(fe) <= done:
                break
            time.sleep(0.2)
        last = None
        while time.time() < deadline:
            p = self.query.lastProgress
            bid = p["batchId"] if p else None
            if bid == last and not self.query.status["isTriggerActive"]:
                break
            last = bid
            time.sleep(1.0)

    def stop(self) -> None:
        self.query.stop()
        self.recorder.detach()

    def results(self, rel: Releaser) -> dict:
        from dataflow_mm_lrt_spark.streaming.metrics import read_metrics

        committed = {m["epoch"]: m["committed_at"] for m in self.sink.manifests()}
        fe = epoch_files(self.ckpt)
        return {
            "latency_ms": file_latencies_ms(rel.due, fe, committed),
            "epoch_files": fe,
            "n_epochs": max(committed) + 1,
            "late_ms_max": rel.late_ms_max,
            "progress": [
                d for d in read_metrics(os.path.join(self.out_dir, "metrics"))
                if d.get("event") == "progress"
            ],
        }


def oracle_replay(turns_by_file: dict[str, pd.DataFrame], fe: dict[int, list[str]],
                  n_epochs: int) -> pd.DataFrame:
    """microbatch_reference over the epoch → files grouping the query
    actually used (an epoch without files is a no-data batch)."""
    from dataflow_mm_lrt_spark.oracle.pandas_pipeline import microbatch_reference
    from dataflow_mm_lrt_spark.streaming.run import PipelineConfig

    cfg = PipelineConfig()
    batches = [
        pd.concat([turns_by_file[f] for f in fe[e]], ignore_index=True)
        if fe.get(e) else None  # the replay's no-data batch
        for e in range(n_epochs)
    ]
    return microbatch_reference(batches, 10 * 60 * 1000, cfg.order_slack_ms)


def warm_query(spark, files, work: str, rate: float, tracer, tag: str) -> LiveQuery:
    """The live query with N_WARM files fed through it (its first
    batches pay plan compilation and state-store creation)."""
    lq = LiveQuery(spark, work, tag, tracer)
    lq.feed(files[:N_WARM], rate, "w")
    return lq


def measure(lq: LiveQuery, files, rate: float) -> dict:
    """Feed ``files`` at ``rate`` to a warm query; latencies and window."""
    w = Window()
    rel = lq.feed(files, rate, "f")
    window = w.stop()
    return {**lq.results(rel), "window": window, "releaser": rel}


def _layers(res: dict, sink, tracer: Tracer) -> dict:
    from drains import progress_layers, sink_layers

    layers = progress_layers(res["progress"])
    layers.update(sink_layers(sink, tracer))
    layers["source.files_per_batch_p50"] = median(
        len(v) for v in res["epoch_files"].values() if v
    )
    layers["gen.late_ms_max"] = res["late_ms_max"]
    return layers


def staged_by_name(files) -> dict[str, pd.DataFrame]:
    """Released file name → its rows (warm-up files, then measured)."""
    return {
        f"{prefix}{i:05d}.parquet": pd.read_parquet(f)
        for prefix, group in (("w", files[:N_WARM]), ("f", files[N_WARM:]))
        for i, f in enumerate(group)
    }


def _run(name: str, seed: int, seconds: float, work: str, cores: int, trace: bool) -> dict:
    from rowcheck import digest, read_committed

    files = make_files(seed, work)
    n = max(3, min(len(files) - N_WARM, int(seconds * RATE_FILES_PER_S)))
    files = files[: N_WARM + n]
    tracer = Tracer() if trace else None
    with RssSampler() as rss:
        spark, setup_s = cold_start_s(cores, work)
        w = Window()
        lq = warm_query(spark, files, work, RATE_FILES_PER_S, tracer, "run")
        warmup_s = w.stop()["wall_s"]
        try:
            res = measure(lq, files[N_WARM:], RATE_FILES_PER_S)
        finally:
            lq.stop()
    got = digest(read_committed(lq.sink))
    layers = _layers(res, lq.sink, tracer) if trace else {}
    stop_session(spark)

    released = staged_by_name(files)
    want = digest(oracle_replay(released, res["epoch_files"], res["n_epochs"]))
    lat = res["latency_ms"]
    ok_lat = [v for v in lat.values() if v is not None]
    late = sum(v is None or v > LATENCY_LIMIT_MS for v in lat.values())
    if got != want:
        print("# committed rows differ from the micro-batch replay oracle")
    n_turns = sum(len(released[f]) for f in lat)
    out = {
        "attempted": n,
        # wrong committed rows fail every file of the run
        "failed": n if got != want else late,
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_mb,
        "ops": [
            {"wall_s": median(ok_lat) / 1000, "core_s": res["window"]["core_s"] / n}
        ],
        "windows": [res["window"]],
        "named": {
            "commit_latency_ms_p50": (median(ok_lat), "ms"),
            "commit_latency_ms_p90": (quantile(ok_lat, 0.9), "ms"),
            "latency_samples": (len(ok_lat), "files"),
            "turns_per_core_s": (n_turns / res["window"]["core_s"], "1/core-s"),
            "gen_late_ms_max": (res["late_ms_max"], "ms"),
            "warmup_s": (warmup_s, "s"),
        },
    }
    if trace:
        out.update(layers=layers, spans=tracer.spans)
    return out


def run(name, seed, seconds, work, cores):
    return _run(name, seed, seconds, work, cores, trace=False)


def run_traced(name, seed, seconds, work, cores):
    return _run(name, seed, seconds, work, cores, trace=True)
