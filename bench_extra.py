#!/usr/bin/env python
"""Per-query isolation bench + plan capture (guide §1.1/§1.4/§1.5).

NOT the driver bench — ``bench.py`` is frozen for measurement. This
harness exists so optimization work can time one query at a time with
the noop sink, capture ``explain("formatted")`` for the plan audit in
``plans/r07/``, and compare before/after without paying for the whole
suite.

Usage::

    python bench_extra.py [--plans DIR] [--runs N] name [name ...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default: the CPUs this process may use, as
``build_session()`` reads it; ``bench.py`` still defaults to 32).

Each run is timed with ``perfbench.common.Window``: ``cpu_core_sec`` is
the CPU time of this process tree (driver, JVM, Python workers), and
``steal_pct`` the machine's steal share over the run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plans", default=None, help="dir to write <name>.txt explain output")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from dataflow_mm_lrt_spark import cache
    from dataflow_mm_lrt_spark.contract import EXTRA_QUERIES, QUERIES
    from dataflow_mm_lrt_spark.session import build_session
    from perfbench.common import Window

    q = {**QUERIES, **EXTRA_QUERIES}
    spark = build_session(app_name="bench_extra")
    spark.sparkContext.setLogLevel("ERROR")

    out = {}
    for name in args.names:
        fn = q[name]
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = fn(spark, sf_dir)
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                ))
            cache.release_all()
        runs = []
        for _ in range(args.runs):
            df = fn(spark, sf_dir)
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            win = Window()
            df.write.format("noop").mode("overwrite").save()
            w = win.stop()
            runs.append({
                "sec": round(w["wall_s"], 3),
                "steal_pct": round(w["steal_pct"], 2),
                "cpu_core_sec": round(w["core_s"], 2),
            })
            spark.sparkContext.setJobDescription(None)
        # release AFTER a query's runs, exactly like bench.py — scoped
        # persists are per-query caches the driver's min-of-N reuses
        cache.release_all()
        out[name] = runs
        print(json.dumps({name: runs}), flush=True)
    print(json.dumps({"summary": {k: min(r["sec"] for r in v) for k, v in out.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
