"""Streaming progress metrics: a JSONL-on-disk recorder for every
micro-batch (north_star: "checkpoint-restart resumes with per-partition
lineage and metrics intact" — the sink manifests carry per-partition
lineage; this carries the per-batch RATES and STATE metrics).

The recorder is a ``StreamingQueryListener``: events arrive on the
driver's listener bus, so recording costs nothing on the executors and
nothing in the micro-batch critical path. Each progress event is one
JSON line (the engine's own progress payload: input/process rates,
batch durations, state-operator rows/memory, event-time watermark),
appended to ``<dir>/metrics.jsonl``, so a restarted query keeps
extending the same trail and ``summarize()`` sees the full history
across restarts. The recorder takes every query's events while it is
attached; ``run_pipeline`` attaches one per drain and detaches it after.

Usage::

    rec = ProgressRecorder.attach(spark, out_dir)   # before .start()
    ...  run / drain the query ...
    rec.detach()
    stats = summarize(out_dir)   # totals + rates + peak state size
"""

from __future__ import annotations

import json
import os
import threading
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class ProgressRecorder(StreamingQueryListener):
    """Append every query-progress event as one JSON line."""

    def __init__(self, metrics_dir: str):
        self.path = os.path.join(metrics_dir, "metrics.jsonl")
        os.makedirs(metrics_dir, exist_ok=True)
        self._spark: SparkSession | None = None
        self._terminated = threading.Event()

    # -- listener hooks (driver-side, off the batch critical path) --------

    def onQueryStarted(self, event: Any) -> None:
        self._append(
            {"event": "started", "id": str(event.id), "runId": str(event.runId)}
        )

    def onQueryProgress(self, event: Any) -> None:
        doc = json.loads(event.progress.json)
        doc["event"] = "progress"
        self._append(doc)

    def onQueryIdle(self, event: Any) -> None:  # pragma: no cover - timing
        pass

    def onQueryTerminated(self, event: Any) -> None:
        self._append(
            {
                "event": "terminated",
                "id": str(event.id),
                "exception": str(event.exception) if event.exception else None,
            }
        )
        self._terminated.set()

    def wait_terminated(self, timeout: float = 10.0) -> bool:
        """Block until the terminated event has been RECORDED (listener
        delivery is async — awaitTermination() returning does not mean
        the bus has drained). Use before detach() so the trail is
        complete."""
        return self._terminated.wait(timeout)

    def _append(self, doc: dict) -> None:
        # single local append per micro-batch on the driver; a shared
        # filesystem gives the same one-writer-per-query guarantee the
        # checkpoint directory already relies on
        with open(self.path, "a") as f:
            f.write(json.dumps(doc) + "\n")

    # -- lifecycle ---------------------------------------------------------

    @classmethod
    def attach(cls, spark: SparkSession, metrics_dir: str) -> "ProgressRecorder":
        rec = cls(metrics_dir)
        rec._spark = spark
        spark.streams.addListener(rec)
        return rec

    def detach(self) -> None:
        if self._spark is not None:
            self._spark.streams.removeListener(self)
            self._spark = None


def read_metrics(metrics_dir: str) -> list[dict]:
    path = os.path.join(metrics_dir, "metrics.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def summarize(metrics_dir: str) -> dict:
    """Roll the recorded trail up to the numbers an operator dashboard
    needs: totals, rates, batch-duration distribution, peak state size,
    and the final event-time watermark. Restart-safe: the trail spans
    every run of the query against this directory."""
    rows = [d for d in read_metrics(metrics_dir) if d.get("event") == "progress"]
    if not rows:
        return {"batches": 0}
    durations = [
        d["durationMs"]["triggerExecution"]
        for d in rows
        if "durationMs" in d and "triggerExecution" in d["durationMs"]
    ]
    state_rows = [
        sum(op.get("numRowsTotal", 0) for op in d.get("stateOperators", []))
        for d in rows
    ]
    state_bytes = [
        sum(op.get("memoryUsedBytes", 0) for op in d.get("stateOperators", []))
        for d in rows
    ]
    n_in = sum(int(d.get("numInputRows", 0)) for d in rows)
    total_ms = sum(durations) or 1
    watermarks = [
        d["eventTime"]["watermark"]
        for d in rows
        if d.get("eventTime", {}).get("watermark")
    ]
    return {
        "batches": len(rows),
        "input_rows": n_in,
        "rows_per_sec_overall": round(n_in * 1000.0 / total_ms, 1),
        "batch_ms_max": max(durations) if durations else None,
        "batch_ms_mean": round(total_ms / max(len(durations), 1), 1),
        "state_rows_peak": max(state_rows) if state_rows else 0,
        "state_bytes_peak": max(state_bytes) if state_bytes else 0,
        "final_watermark": watermarks[-1] if watermarks else None,
        "runs": sum(
            1 for d in read_metrics(metrics_dir) if d.get("event") == "started"
        ),
    }
