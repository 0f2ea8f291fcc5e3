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
  the probe is one ``exists()`` on that manifest;
* readers (``read_committed``) list manifests and read exactly the
  committed files: data written before a crash and never committed is
  invisible.

``observe()`` on the write job gives the epoch's rows and ts bounds with
no extra pass; per-file rows come from each parquet footer (metadata
only). Every path operation goes through the Hadoop FileSystem API of
the sink URI, so the protocol works unchanged on HDFS/S3A/ABFS.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .stateful import ASSEMBLED_SCHEMA


class ManifestSink:
    def __init__(self, base_dir: str):
        self.base_dir = base_dir.rstrip("/")
        self.data_dir = f"{self.base_dir}/data"
        self.manifest_dir = f"{self.base_dir}/_manifests"
        self._fs = None
        self._jpath = None

    # -- Hadoop FS plumbing --------------------------------------------------

    def _jvm_fs(self):
        """(FileSystem, Path-class) for the sink URI, lazily resolved."""
        if self._fs is None:
            spark = SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError("ManifestSink needs an active SparkSession")
            self._jpath = spark._jvm.org.apache.hadoop.fs.Path
            self._fs = self._jpath(self.base_dir).getFileSystem(
                spark._jsc.hadoopConfiguration()
            )
            self._fs.mkdirs(self._jpath(self.data_dir))
            self._fs.mkdirs(self._jpath(self.manifest_dir))
        return self._fs, self._jpath

    def _list(self, path: str) -> list[tuple[str, int]]:
        """[(name, bytes)] under path (metadata-only listing)."""
        fs, P = self._jvm_fs()
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
        stream = fs.open(P(path))
        try:
            return bytes(stream.readAllBytes()).decode("utf-8")
        finally:
            stream.close()

    def _parquet_row_count(self, path: str) -> int:
        """Row count from the parquet FOOTER (metadata only, any FS)."""
        _, P = self._jvm_fs()
        spark = SparkSession.getActiveSession()
        jvm = spark._jvm
        in_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            P(path), spark._jsc.hadoopConfiguration()
        )
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(in_file)
        try:
            return reader.getRecordCount()
        finally:
            reader.close()

    # -- commit protocol ---------------------------------------------------

    def _manifest_path(self, batch_id: int) -> str:
        return f"{self.manifest_dir}/epoch-{batch_id:010d}.json"

    def is_committed(self, batch_id: int) -> bool:
        fs, P = self._jvm_fs()
        return fs.exists(P(self._manifest_path(batch_id)))

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body. Idempotent on replay of the same batch_id."""
        if self.is_committed(batch_id):
            return  # exactly-once: replayed epoch is a no-op
        epoch_dir = f"{self.data_dir}/epoch={batch_id:010d}"

        has_ts = "ts" in batch_df.columns
        aggs = [F.count(F.lit(1)).alias("rows")]
        if has_ts:
            aggs += [F.min("ts").alias("ts_min"), F.max("ts").alias("ts_max")]
        obs = Observation()
        batch_df.observe(obs, *aggs).write.mode("overwrite").parquet(epoch_dir)
        metrics = obs.get
        ts_min = metrics.get("ts_min")
        ts_max = metrics.get("ts_max")

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
            "n_rows": metrics["rows"],
            "ts_min": str(ts_min) if ts_min is not None else None,
            "ts_max": str(ts_max) if ts_max is not None else None,
            "partitions": lineage,
        }
        self._write_atomic(self._manifest_path(batch_id), json.dumps(manifest))

    def foreach_batch(self):
        return lambda df, bid: self.write_batch(df, bid)

    # -- read side ---------------------------------------------------------

    def committed_epochs(self) -> list[int]:
        return sorted(
            int(name[len("epoch-"):-len(".json")])
            for name, _ in self._list(self.manifest_dir)
            if name.startswith("epoch-") and name.endswith(".json")
        )

    def manifests(self) -> list[dict]:
        return [
            json.loads(self._read_text(self._manifest_path(e)))
            for e in self.committed_epochs()
        ]

    def read_committed(self, spark: SparkSession) -> DataFrame:
        files = [
            f"{self.data_dir}/epoch={m['epoch']:010d}/{p['file']}"
            for m in self.manifests()
            for p in m["partitions"]
        ]
        if not files:
            return spark.createDataFrame([], schema=ASSEMBLED_SCHEMA)
        return spark.read.parquet(*files)
