"""ManifestSink commit protocol: replay, the one-``exists()`` probe and a
crash between commit steps.

An epoch is committed once ``_manifests/epoch-<id>.json`` is renamed
into place. Before that, whatever its data directory holds is invisible
to every reader, and the next ``write_batch`` of the same epoch
overwrites it and commits exactly once.
"""

from __future__ import annotations

import pandas as pd

from dataflow_mm_lrt_spark.streaming.sink import ManifestSink


def _batch(spark, conv_id: str, n: int, day: int):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": [conv_id] * n,
                "v": list(range(n)),
                "ts": pd.to_datetime([f"2026-01-{day:02d}"] * n),
            }
        )
    )


def _conv_counts(sink, spark) -> dict[str, int]:
    rows = sink.read_committed(spark).groupBy("conv_id").count().collect()
    return {r["conv_id"]: r["count"] for r in rows}


def test_committed_epoch_replay_is_noop(spark, tmp_path):
    sink = ManifestSink(str(tmp_path / "t"))
    for e in range(4):
        sink.write_batch(_batch(spark, f"c{e}", 3, e + 1), e)
    assert sink.committed_epochs() == [0, 1, 2, 3]
    before = _conv_counts(sink, spark)
    assert before == {f"c{e}": 3 for e in range(4)}
    manifest0 = sink.manifests()[0]

    # a replay of a committed epoch with DIFFERENT rows changes nothing
    sink.write_batch(_batch(spark, "poison", 5, 9), 0)
    assert _conv_counts(sink, spark) == before
    assert sink.manifests()[0] == manifest0


def test_uncommitted_probe_makes_no_listing(spark, tmp_path):
    """The per-micro-batch ``is_committed`` probe is one ``exists()`` on
    the epoch's manifest, never a directory listing (a LIST costs ~10× a
    HEAD on object stores)."""
    sink = ManifestSink(str(tmp_path / "t"))
    calls = {"n": 0}
    orig = sink._list

    def counted(path):
        calls["n"] += 1
        return orig(path)

    sink._list = counted
    for e in range(20):
        assert not sink.is_committed(e)
    assert calls["n"] == 0


def test_crash_between_commit_steps(spark, tmp_path):
    """A writer killed after the epoch's parquet write but before the
    manifest rename leaves data and a temporary manifest behind. Neither
    is visible; the replay commits the epoch exactly once and the partial
    rows are gone."""
    sink = ManifestSink(str(tmp_path / "t"))
    for e in range(3):
        sink.write_batch(_batch(spark, f"c{e}", 2, e + 1), e)
    committed = sink.manifests()

    # the crash: epoch 3's data is written, its manifest is not
    epoch3 = f"{sink.data_dir}/epoch={3:010d}"
    _batch(spark, "partial", 7, 4).write.mode("overwrite").parquet(epoch3)
    with open(sink._manifest_path(3) + ".tmp", "w") as f:
        f.write('{"epoch": 3')  # torn write of the manifest's temp file
    assert not sink.is_committed(3)
    assert sink.committed_epochs() == [0, 1, 2]
    assert sink.manifests() == committed
    assert _conv_counts(sink, spark) == {"c0": 2, "c1": 2, "c2": 2}

    # the restarted query replays epoch 3: committed exactly once
    sink.write_batch(_batch(spark, "c3", 4, 4), 3)
    sink.write_batch(_batch(spark, "c3-again", 4, 4), 3)
    assert sink.committed_epochs() == [0, 1, 2, 3]
    m3 = sink.manifests()[3]
    assert m3["n_rows"] == 4
    assert sum(p["rows"] for p in m3["partitions"]) == 4
    assert _conv_counts(sink, spark) == {"c0": 2, "c1": 2, "c2": 2, "c3": 4}
