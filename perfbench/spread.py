"""Run-to-run spread of the end-to-end metrics in BENCHMARK.json.

    python3 perfbench/spread.py --workload drain_bulk --seeds 1-10

Runs ``run.py --trace 0`` once per seed, in sequence, and reports per
end-to-end metric the median and the quartile spread (Q3 − Q1 from
``statistics.quantiles(values, n=4)``) as a share of the median — the
figure each bound in BENCHMARK.json must stay three times above.
Writes ``.perfbench_out/spread_<workload>_seeds<seeds>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import ROOT, write_artifact  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    runs = []
    for seed in seeds(args.seeds):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if out.returncode == 0 and lines else None
        runs.append(
            {"seed": seed, "run_s": time.time() - t0, "result": res, "notes": lines[:-1]}
        )
        print(f"# seed {seed}: {lines[-1] if lines else out.returncode}", flush=True)

    summary = {}
    for m in spec["end_to_end"]:
        vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs if r["result"]]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        summary[m["name"]] = {
            "median": statistics.median(vals),
            "iqr_frac": (q3 - q1) / statistics.median(vals),
            "bound": m.get("bound"),
            "values": vals,
        }
    doc = {
        "workload": args.workload,
        "all_correct": all(r["result"] and r["result"]["correct"] for r in runs),
        "run_s_max": max(r["run_s"] for r in runs),
        "metrics": summary,
        "runs": runs,
    }
    write_artifact(f"spread_{args.workload}_seeds{args.seeds}.json", doc)
    print(json.dumps({k: round(v["iqr_frac"], 4) for k, v in summary.items()}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
