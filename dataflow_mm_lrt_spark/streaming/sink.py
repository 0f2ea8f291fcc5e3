"""Exactly-once table sink via idempotent per-epoch commit manifests.

Spark's ``foreachBatch`` contract is at-least-once: a micro-batch can be
re-executed after failure with the same ``batch_id``. This sink makes
replays no-ops (north_star: "exactly-once upserts … via idempotent
commit manifests keyed by (checkpoint_epoch, partition_id)"):

* batch data lands in ``data/epoch=<batch_id>/`` with ``mode=overwrite``
  — a re-run of the same epoch overwrites its own partial output;
* the epoch becomes visible only when ``_manifests/epoch-<id>.json`` is
  atomically renamed into place; the manifest records per-partition
  lineage (file, bytes, row count) and event-time bounds (metrics);
* a replayed batch whose manifest already exists is skipped entirely;
* readers (``read_committed``) list manifests and read exactly the
  committed files;
* ``compact_manifests`` rolls loose epoch manifests into one snapshot
  file (the Iceberg manifest-list analogue) so a long-running stream's
  read path stays O(snapshots), not O(epochs); replay idempotence and
  reader results are unchanged across compaction.

Scale notes (round-2 fixes of the round-1 sink):

* epoch metrics ride along with the write job: ``observe()`` gives
  the epoch's total rows and ts bounds with no extra pass and no
  caching. Per-file lineage (partition id from the part-file name,
  bytes, rows) comes from the directory listing and each file's parquet
  footer (``_parquet_row_count``, metadata only). The round-1 sink
  re-read every file it had just written, a second full I/O pass per
  epoch;
* every path operation goes through the Hadoop FileSystem API resolved
  from the sink URI, so the commit protocol works unchanged on
  HDFS/S3A/ABFS, not just local POSIX (metadata-only calls; manifests
  are tiny).

This is the same commit protocol an Iceberg sink would use (snapshot +
manifest list); it is kept behind one class so an Iceberg writer can be
swapped in where the runtime jar exists (SURVEY.md §7.2 step 7).
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ManifestSink:
    def __init__(self, base_dir: str, compact_every: int = 0):
        """``compact_every > 0`` rolls loose epoch manifests into one
        snapshot file whenever that many accumulate (the Iceberg
        manifest-list analogue, VERDICT r3 item 7): a year-long stream
        otherwise leaves one manifest per epoch and ``read_committed``
        must list and parse them all. Compaction is crash-safe — the
        snapshot is renamed into place BEFORE the loose manifests are
        deleted, and readers dedup by epoch id, so a crash between the
        two steps only leaves harmless duplicates."""
        self.base_dir = base_dir.rstrip("/")
        self.data_dir = f"{self.base_dir}/data"
        self.manifest_dir = f"{self.base_dir}/_manifests"
        self.compact_every = compact_every
        self._fs = None
        self._jpath = None
        #: snapshot-file name → {epoch: manifest} (snapshots are
        #: immutable once renamed into place, so cache entries never
        #: go stale; unknown names are loaded on demand)
        self._snap_cache: dict[str, dict[int, dict]] = {}
        #: per-instance listing caches (valid under the foreachBatch
        #: single-writer contract — one live sink instance per query;
        #: a restarted writer re-lists once on first use). They keep the
        #: per-micro-batch commit path at one exists() RPC instead of a
        #: full manifest-directory listing, which matters on object
        #: stores where LIST costs ~10× a HEAD.
        self._has_snapshots: bool | None = None  # None = not yet listed
        self._n_loose: int | None = None  # None = not yet listed
        self._snap_names: list[str] | None = None  # None = not yet listed

    # -- Hadoop FS plumbing --------------------------------------------------

    def _jvm_fs(self):
        """(FileSystem, Path-class) for the sink URI, lazily resolved."""
        if self._fs is None:
            spark = SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError("ManifestSink needs an active SparkSession")
            jvm = spark._jvm
            self._jpath = jvm.org.apache.hadoop.fs.Path
            self._fs = self._jpath(self.base_dir).getFileSystem(
                spark._jsc.hadoopConfiguration()
            )
            self._fs.mkdirs(self._jpath(self.data_dir))
            self._fs.mkdirs(self._jpath(self.manifest_dir))
        return self._fs, self._jpath

    def _exists(self, path: str) -> bool:
        fs, P = self._jvm_fs()
        return fs.exists(P(path))

    def _list(self, path: str) -> list[tuple[str, int]]:
        """[(name, bytes)] under path (metadata-only listing)."""
        fs, P = self._jvm_fs()
        if not fs.exists(P(path)):
            return []
        return [
            (st.getPath().getName(), st.getLen())
            for st in fs.listStatus(P(path))
        ]

    def _write_atomic(self, path: str, text: str) -> None:
        fs, P = self._jvm_fs()
        tmp = path + ".tmp"
        out = fs.create(P(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        fs.delete(P(path), False)
        fs.rename(P(tmp), P(path))  # atomic commit point

    def _read_text(self, path: str) -> str:
        fs, P = self._jvm_fs()
        jvm = SparkSession.getActiveSession()._jvm
        stream = fs.open(P(path))
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        try:
            lines = []
            while True:
                line = reader.readLine()
                if line is None:
                    break
                lines.append(line)
            return "\n".join(lines)
        finally:
            reader.close()

    # -- commit protocol ---------------------------------------------------

    def _manifest_path(self, batch_id: int) -> str:
        return f"{self.manifest_dir}/epoch-{batch_id:010d}.json"

    def _snapshot_names(self) -> list[str]:
        # cached after the first listing: snapshots change only through
        # this instance's compact_manifests (single-writer contract),
        # which maintains the cache in place
        if self._snap_names is None:
            self._snap_names = sorted(
                name
                for name, _ in self._list(self.manifest_dir)
                if name.startswith("snapshot-") and name.endswith(".json")
            )
        self._has_snapshots = bool(self._snap_names)
        return self._snap_names

    def _snapshot_epochs(self) -> dict[int, dict]:
        """{epoch: manifest} across every snapshot file (cached: a
        snapshot is immutable once committed)."""
        merged: dict[int, dict] = {}
        for name in self._snapshot_names():
            if name not in self._snap_cache:
                doc = json.loads(
                    self._read_text(f"{self.manifest_dir}/{name}")
                )
                self._snap_cache[name] = {
                    int(e): m for e, m in doc["epochs"].items()
                }
            merged.update(self._snap_cache[name])
        return merged

    def is_committed(self, batch_id: int) -> bool:
        # loose manifest OR already rolled into a snapshot — replay
        # idempotence must survive compaction. The snapshot lookup is
        # consulted only when a snapshot file is known (or not yet
        # known NOT) to exist, so the steady-state uncommitted-batch
        # path costs one exists() RPC, not a directory listing.
        if self._exists(self._manifest_path(batch_id)):
            return True
        if self._has_snapshots is None:
            self._snapshot_names()  # one listing; sets _has_snapshots
        if not self._has_snapshots:
            return False
        return batch_id in self._snapshot_epochs()

    def _loose_epochs(self) -> list[int]:
        return sorted(
            int(name[len("epoch-"):-len(".json")])
            for name, _ in self._list(self.manifest_dir)
            if name.startswith("epoch-") and name.endswith(".json")
        )

    def compact_manifests(self) -> int:
        """Roll every loose epoch manifest AND every prior snapshot into
        one new snapshot file; returns the number of manifest files
        afterwards. Order of operations is the crash-safe one: write the
        superseding snapshot first (atomic rename), then delete what it
        supersedes — a crash in between leaves duplicate coverage that
        readers dedup by epoch id."""
        fs, P = self._jvm_fs()
        epochs = dict(self._snapshot_epochs())
        old_snaps = self._snapshot_names()
        loose = self._loose_epochs()
        for e in loose:
            epochs[e] = json.loads(self._read_text(self._manifest_path(e)))
        if not epochs:
            return 0
        top = max(epochs)
        snap_name = f"snapshot-{top:010d}.json"
        doc = {
            "compacted_at": time.time(),
            "epochs": {str(e): m for e, m in sorted(epochs.items())},
        }
        self._write_atomic(f"{self.manifest_dir}/{snap_name}", json.dumps(doc))
        self._snap_cache[snap_name] = epochs
        for name in old_snaps:
            if name != snap_name:
                fs.delete(P(f"{self.manifest_dir}/{name}"), False)
                self._snap_cache.pop(name, None)
        for e in loose:
            fs.delete(P(self._manifest_path(e)), False)
        self._n_loose = 0
        self._has_snapshots = True
        self._snap_names = [snap_name]
        return len(self._list(self.manifest_dir))

    def _parquet_row_count(self, path: str) -> int:
        """Row count from the parquet FOOTER (metadata only, any FS)."""
        fs, P = self._jvm_fs()
        jvm = SparkSession.getActiveSession()._jvm
        conf = SparkSession.getActiveSession()._jsc.hadoopConfiguration()
        in_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            P(path), conf
        )
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(in_file)
        try:
            return reader.getRecordCount()
        finally:
            reader.close()

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body. Idempotent on replay of the same batch_id."""
        if self.is_committed(batch_id):
            return  # exactly-once: replayed epoch is a no-op
        epoch_dir = f"{self.data_dir}/epoch={batch_id:010d}"

        # epoch metrics ride along with the write job (observe = zero
        # extra pass, zero caching); per-file rows come from the parquet
        # FOOTERS afterwards (metadata-only reads, no data scanned)
        from pyspark.sql import Observation

        has_ts = "ts" in batch_df.columns
        aggs = [F.count(F.lit(1)).alias("rows")]
        if has_ts:
            aggs += [F.min("ts").alias("ts_min"), F.max("ts").alias("ts_max")]
        obs = Observation()
        batch_df.observe(obs, *aggs).write.mode("overwrite").parquet(epoch_dir)
        metrics = obs.get
        n_rows = metrics["rows"]
        ts_min = metrics.get("ts_min") if has_ts else None
        ts_max = metrics.get("ts_max") if has_ts else None

        # file lineage from the directory listing + footers;
        # part files encode their writing partition as part-<pid>-…
        lineage = []
        for name, size in sorted(self._list(epoch_dir)):
            if not name.endswith(".parquet"):
                continue
            try:
                pid = int(name.split("-")[1])
            except (IndexError, ValueError):
                pid = -1
            lineage.append(
                {
                    "partition_id": pid,
                    "file": name,
                    "bytes": size,
                    "rows": self._parquet_row_count(f"{epoch_dir}/{name}"),
                }
            )

        manifest = {
            "epoch": batch_id,
            "committed_at": time.time(),
            "n_rows": n_rows,
            "ts_min": str(ts_min) if ts_min is not None else None,
            "ts_max": str(ts_max) if ts_max is not None else None,
            "partitions": lineage,
        }
        self._write_atomic(self._manifest_path(batch_id), json.dumps(manifest))
        if self.compact_every:
            # incremental loose-manifest count: one listing on first
            # use, then +1 per commit / reset on compaction — no extra
            # LIST per micro-batch
            if self._n_loose is None:
                self._n_loose = len(self._loose_epochs())
            else:
                self._n_loose += 1
            if self._n_loose >= self.compact_every:
                self.compact_manifests()

    def foreach_batch(self):
        return lambda df, bid: self.write_batch(df, bid)

    # -- read side ---------------------------------------------------------

    def committed_epochs(self) -> list[int]:
        # snapshots + loose manifests, deduped by epoch id (duplicates
        # can exist transiently after a crash mid-compaction)
        return sorted(set(self._snapshot_epochs()) | set(self._loose_epochs()))

    def manifests(self) -> list[dict]:
        snap = self._snapshot_epochs()
        out = []
        for e in self.committed_epochs():
            if e in snap:
                out.append(snap[e])
            else:
                out.append(json.loads(self._read_text(self._manifest_path(e))))
        return out

    def read_committed(self, spark: SparkSession) -> DataFrame:
        non_empty = []
        for e in self.committed_epochs():
            p = f"{self.data_dir}/epoch={e:010d}"
            if any(n.endswith(".parquet") for n, _ in self._list(p)):
                non_empty.append(p)
        if not non_empty:
            from .stateful import ASSEMBLED_SCHEMA

            return spark.createDataFrame([], schema=ASSEMBLED_SCHEMA)
        return spark.read.parquet(*non_empty)
