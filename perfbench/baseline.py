"""Single-core baseline for ``drain_bulk`` (not listed in BENCHMARK.json).

    python3 perfbench/baseline.py --seed 1

Runs the traced ``drain_bulk`` twice in separate processes, on
``local[1]`` and on ``local[$(nproc)]``, and reports the speed-up of
the traced drain and of each ladder rung (single-core wall ÷ all-core
wall). Prints one JSON object and writes it to
``.perfbench_out/baseline_seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import ROOT, write_artifact  # noqa: E402


def traced(seed: int, cores: int) -> dict:
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "drain_bulk",
         "--seed", str(seed), "--seconds", "1", "--trace", "1", "--cores", str(cores)],
        cwd=ROOT, check=True, stdout=subprocess.DEVNULL, timeout=1800,
    )
    path = os.path.join(ROOT, ".perfbench_out",
                        f"trace_drain_bulk_seed{seed}_cores{cores}.json")
    with open(path) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    n = os.cpu_count() or 1
    one, many = traced(args.seed, 1), traced(args.seed, n)
    drain = (one["layers"]["trace.drain_s"], many["layers"]["trace.drain_s"])
    doc = {
        "seed": args.seed,
        "cores": [1, n],
        "drain_s": list(drain),
        "speedup": drain[0] / drain[1],
        "rung_speedup": {
            k: one["ladder"][k]["wall_s"] / many["ladder"][k]["wall_s"]
            for k in one["ladder"]
        },
        "steal_pct_max": [
            max(w["steal_pct"] for w in d["windows"]) for d in (one, many)
        ],
    }
    write_artifact(f"baseline_seed{args.seed}.json", doc)
    print(json.dumps(doc))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
