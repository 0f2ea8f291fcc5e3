"""Shared harness pieces: Spark session lifetime, the CPU window, the
process-tree RSS sampler, the in-memory span tracer and the parquet
input writer.

This module is the benchmark's one copy of the /proc/stat steal and
core-seconds window (``Window``): core-seconds are the CPU time of the
benchmark's own process tree, steal is read from /proc/stat.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: root of the checkout: the benchmark lives in <root>/perfbench
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

#: a run whose timed windows lost more than this share of CPU time to
#: the hypervisor is flagged in the output (never dropped)
STEAL_FLAG_PCT = 5.0

_HZ = os.sysconf("SC_CLK_TCK")


# -- CPU windows -----------------------------------------------------------------


def _steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    steal = v[7] if len(v) > 7 else 0
    return steal, sum(v[:8])


def _children() -> dict[int, list[int]]:
    """Parent pid → child pids, from /proc."""
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.setdefault(ppid, []).append(int(name))
    return out


def _tree(root_pid: int) -> list[int]:
    """root_pid and all its descendants: this driver, the JVM it
    launched and the JVM's Python workers."""
    children, out, stack = _children(), [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process tree: utime + stime of every live
    member plus cutime + cstime, the time of children it has reaped
    (the Python workers the daemon forks and reaps)."""
    total = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                v = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in v[11:15])  # utime stime cutime cstime
    return total / _HZ


class Window:
    """One timed window: wall seconds, the process tree's CPU seconds
    and the share of the machine's CPU time the hypervisor stole."""

    def __init__(self) -> None:
        self.s0, self.t0 = _steal_jiffies()
        self.c0 = tree_cpu_s()
        self.w0 = time.perf_counter()

    def stop(self) -> dict:
        wall = time.perf_counter() - self.w0
        cpu = tree_cpu_s()
        s1, t1 = _steal_jiffies()
        return {
            "wall_s": wall,
            "core_s": cpu - self.c0,
            "steal_pct": 100.0 * (s1 - self.s0) / max(t1 - self.t0, 1),
        }


# -- process-tree RSS ----------------------------------------------------------


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of root_pid and all its descendants."""
    total, page = 0, os.sysconf("SC_PAGE_SIZE")
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


RSS_INTERVAL_S = 0.2


class RssSampler:
    """Background sampler of the process tree's summed RSS; ``peak_mb``
    is the largest sample seen while running."""

    def __init__(self) -> None:
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(pid))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


# -- spans ---------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, trace id), written out
    once at the end of a run. Spans are recorded by the benchmark around
    calls into the program's public functions; a span's trace id is the
    id of the outermost span open when it started."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "trace": self._stack[0] if self._stack else sid,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


# -- statistics -----------------------------------------------------------------


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]); 0.0 for no values."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    xs = list(values)
    return statistics.median(xs) if xs else 0.0


# -- inputs --------------------------------------------------------------------

TRANSCRIPT_ARROW = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


BASE_MTIME = 1_700_000_000


def write_parquet_files(df: pd.DataFrame, out_dir: str, n_files: int) -> list[str]:
    """Split df into n_files parquet files with strictly increasing
    mtimes, so the file-stream source reads them in order."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.Table.from_pandas(df, schema=TRANSCRIPT_ARROW, preserve_index=False)
    chunk = max(1, math.ceil(len(df) / n_files))
    paths = []
    for i, start in enumerate(range(0, len(df), chunk)):
        fp = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(start, chunk), fp)
        os.utime(fp, (BASE_MTIME + i, BASE_MTIME + i))
        paths.append(fp)
    return paths


# -- Spark session lifetime ------------------------------------------------------


def session_conf(work: str) -> dict[str, str]:
    """Keep every file Spark writes (shuffle, RocksDB native library,
    warehouse, metastore) inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}",
        "spark.ui.showConsoleProgress": "false",
    }


def prepare_env(work: str) -> None:
    """Environment inherited by the JVM and its Python workers: the
    package is importable from the checkout, temp files stay in work."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher included: temp files in work,
    # no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(cores: int, work: str):
    from dataflow_mm_lrt_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=session_conf(work),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


#: cold session starts per run; setup_s is the median of their times
SETUP_REPS = 3


def cold_start_s(cores: int, work: str):
    """Set-up, repeated SETUP_REPS times: each time a fresh JVM and the
    program's build_session. The last session is kept. Returns (spark,
    median wall seconds)."""
    starts = []
    for i in range(SETUP_REPS):
        w = Window()
        spark = start_session(cores, work)
        starts.append(w.stop())
        if i < SETUP_REPS - 1:
            stop_session(spark)
    return spark, median(r["wall_s"] for r in starts)


def stop_session(spark=None) -> None:
    """Stop Spark and wait until the JVM it launched has exited.
    Idempotent: without a running JVM it does nothing."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


@contextlib.contextmanager
def work_dir(tag: str):
    """Per-run scratch directory inside the checkout, removed at exit."""
    path = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def write_artifact(name: str, doc: dict) -> str:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, name)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, default=str)
    return path


def epoch_files(ckpt: str) -> dict[int, list[str]]:
    """Query batch id → names of the files it consumed.

    The file source logs each file under its own source batch id
    (``sources/0``, plain and ``.compact`` entries); the query's
    ``offsets/<batch>`` log records the source log offset each query
    batch read up to. No-data batches map to no files."""
    by_source: dict[int, list[str]] = {}
    log = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(log) if os.path.isdir(log) else []:
        if not name.split(".")[0].isdigit() or name.endswith(".tmp"):
            continue
        with open(os.path.join(log, name)) as f:
            for line in f:
                if line.startswith("{"):
                    rec = json.loads(line)
                    by_source.setdefault(rec["batchId"], []).append(
                        os.path.basename(rec["path"])
                    )
    upto: dict[int, int] = {}
    offsets = os.path.join(ckpt, "offsets")
    for name in os.listdir(offsets) if os.path.isdir(offsets) else []:
        if name.isdigit():
            with open(os.path.join(offsets, name)) as f:
                upto[int(name)] = json.loads(f.read().splitlines()[-1])["logOffset"]
    out, prev = {}, -1
    for b in sorted(upto):
        out[b] = sorted(
            {f for sb in range(prev + 1, upto[b] + 1) for f in by_source.get(sb, [])}
        )
        prev = max(prev, upto[b])
    return out
