"""``build_session()`` sizes itself for the host it runs on.

With neither ``SPARK_GRAFT_CPUS`` nor an explicit argument, the master
is ``local[n]`` and the shuffle (and streaming state) partition count
is ``n``, the number of CPUs this process may run on. The session runs
in a subprocess so the test session's own ``local[8]`` is not reused.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import json
from dataflow_mm_lrt_spark.session import build_session
spark = build_session(app_name="session-defaults")
print(json.dumps({
    "master": spark.sparkContext.master,
    "shuffle": spark.conf.get("spark.sql.shuffle.partitions"),
}))
spark.stop()
"""


def test_build_session_defaults_follow_host_cpus():
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS")
    }
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", PROBE],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    n = len(os.sched_getaffinity(0))
    assert got == {"master": f"local[{n}]", "shuffle": str(n)}
