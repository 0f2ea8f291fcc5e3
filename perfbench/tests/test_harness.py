"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/tests -q

The first two need no Spark; the ladder test drains a small seed.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from common import prepare_env, stop_session, work_dir
from rowcheck import digest, read_committed
from stream import Releaser, file_latencies_ms

from dataflow_mm_lrt_spark import datagen
from dataflow_mm_lrt_spark.oracle.pandas_pipeline import batch_reference


class _DirSink:
    """Reads manifests straight from a ManifestSink directory layout."""

    def __init__(self, base: str):
        self.data_dir = os.path.join(base, "data")
        self.manifest_dir = os.path.join(base, "_manifests")

    def manifests(self):
        out = []
        for name in sorted(os.listdir(self.manifest_dir)):
            with open(os.path.join(self.manifest_dir, name)) as f:
                out.append(json.load(f))
        return out


def _write_sink(base: str, rows: pd.DataFrame) -> str:
    part = os.path.join(base, "data", "epoch=0000000000", "part-00000.parquet")
    os.makedirs(os.path.dirname(part))
    os.makedirs(os.path.join(base, "_manifests"))
    pq.write_table(pa.Table.from_pandas(rows, preserve_index=False), part)
    manifest = {"epoch": 0, "partitions": [{"file": os.path.basename(part)}]}
    with open(os.path.join(base, "_manifests", "epoch-0000000000.json"), "w") as f:
        json.dump(manifest, f)
    return part


def test_oracle_check_fails_a_dropped_or_altered_row(tmp_path):
    turns = datagen.generate_transcripts(datagen.GenSpec(n_convs=20), seed=3)
    want = batch_reference(turns)
    committed = str(tmp_path / "sink")
    _write_sink(committed, want)
    assert digest(read_committed(_DirSink(committed))) == digest(want)

    for mutate in (
        lambda df: df.drop(index=len(df) // 2),
        lambda df: df.assign(text=df["text"].where(df.index != 5, df["text"] + "!")),
        lambda df: df.assign(emit_seq=df["emit_seq"].where(df.index != 7, 99)),
    ):
        scratch = str(tmp_path / "scratch")
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.copytree(committed, scratch)
        part = os.path.join(scratch, "data", "epoch=0000000000", "part-00000.parquet")
        pq.write_table(
            pa.Table.from_pandas(
                mutate(pq.read_table(part).to_pandas()).reset_index(drop=True),
                preserve_index=False,
            ),
            part,
        )
        assert digest(read_committed(_DirSink(scratch))) != digest(want)


def test_latency_runs_from_due_time_and_lateness_is_reported(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    staged = []
    for i in range(4):
        p = tmp_path / f"in{i}.parquet"
        p.write_bytes(b"x")
        staged.append(str(p))

    stall_s = 0.4

    def stall_generator(i):
        if i == 1:
            time.sleep(stall_s)

    rel = Releaser(staged, str(src), rate=10.0, t0=time.time() + 0.05,
                   prefix="f", before_release=stall_generator)
    rel.start()
    # a consumer stalled on purpose: it commits one file per epoch, and
    # only after sleeping for a second
    committed_at = {}
    files_by_epoch = {}

    def consumer():
        time.sleep(1.0)
        for e in range(4):
            name = f"f{e:05d}.parquet"
            while not (src / name).exists():
                time.sleep(0.01)
            files_by_epoch[e] = [name]
            committed_at[e] = time.time()

    t = threading.Thread(target=consumer)
    t.start()
    rel.join(timeout=10)
    t.join(timeout=10)
    assert not rel.is_alive() and not t.is_alive()

    # generator lateness: file 1 left stall_s late, and so did 2, 3
    assert rel.late_ms_max >= 1000 * stall_s * 0.9
    lat = file_latencies_ms(rel.due, files_by_epoch, committed_at)
    for name, ms in lat.items():
        from_due = 1000 * (committed_at[int(name[1:6])] - rel.due[name])
        from_release = 1000 * (committed_at[int(name[1:6])] - rel.released[name])
        assert ms == pytest.approx(from_due)
        assert ms >= from_release
    # the consumer's stall is charged to the file due first
    assert lat["f00000.parquet"] >= 900
    # a file never committed has no latency
    assert file_latencies_ms({"lost": time.time()}, files_by_epoch, committed_at) == {
        "lost": None
    }


def test_ladder_plus_sink_adds_up_to_the_traced_drain(monkeypatch):
    import drains

    small = drains.DrainWorkload(datagen.GenSpec(n_convs=150), None)
    monkeypatch.setitem(drains.WORKLOADS, "drain_bulk", small)
    with work_dir("selftest") as work:
        prepare_env(work)
        try:
            res = drains.run_traced("drain_bulk", 5, 1.0, work, os.cpu_count() or 1)
        finally:
            stop_session()
    assert res["failed"] == 0
    layers = res["layers"]
    assert abs(layers["trace.ladder_gap_frac"]) <= 0.10, layers
    assert "trace.overhead_frac" in layers
