"""Benchmark entry point.

    python3 perfbench/run.py --workload drain_bulk --seed 1 --seconds 10 --trace 0

Runs one workload on ``local[$(nproc)]`` from this process, checks every
output against the repository's oracles and prints, as the last line
of standard output, one JSON object::

    {"correct": true, "attempted": 3, "failed": 0, "metrics": {...}}

The closed-loop workloads time a fixed number of operations, so every
run reports the same statistic; ``--seconds`` is accepted as the
benchmark interface and sets only ``stream_steady``'s file count.
``--trace 0`` reports the ``end_to_end`` metrics of BENCHMARK.json,
``--trace 1`` the ``per_layer`` ones (0 for a layer the workload does
not reach). Lines before the last name every workload-specific metric
with its unit. Traced runs also write their spans and ladder to
``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (  # noqa: E402
    ROOT,
    STEAL_FLAG_PCT,
    median,
    prepare_env,
    stop_session,
    work_dir,
    write_artifact,
)

MODULES = {
    "drain_bulk": "drains",
    "drain_hot_neardup": "drains",
    "stream_steady": "stream",
    "batch_contract": "batch",
}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_workload(name: str, seed: int, seconds: float, trace: bool, cores: int) -> dict:
    import importlib

    mod = importlib.import_module(MODULES[name])
    with work_dir(name) as work:
        prepare_env(work)
        fn = mod.run_traced if trace else mod.run
        try:
            return fn(name, seed, seconds, work, cores)
        finally:
            stop_session()  # also after a failure: no JVM outlives the run


def steal_flags(windows: list[dict]) -> tuple[float, list[str]]:
    steal = max((w["steal_pct"] for w in windows), default=0.0)
    flags = []
    if steal > STEAL_FLAG_PCT:
        flags.append(
            f"steal {steal:.1f}% > {STEAL_FLAG_PCT}% in a timed window: "
            "wall times suspect, compare core-seconds"
        )
    return steal, flags


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(MODULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 1,
                    help="local[N] parallelism (default: every core)")
    args = ap.parse_args(argv)
    # on SIGTERM unwind normally: the JVM is stopped and work/ removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec = load_spec()
    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), args.cores)
    steal, flags = steal_flags(res["windows"])
    failed_frac = res["failed"] / res["attempted"]
    named = dict(res.get("named", {}))
    named["failed_frac"] = (failed_frac, "1")
    named["steal_pct"] = (steal, "%")
    for k, (v, unit) in named.items():
        print(f"# {args.workload} {k} = {v:.6g} {unit}")
    for f in flags:
        print(f"# FLAG {args.workload}: {f}")

    if args.trace:
        values = res["layers"]
        wanted = spec["per_layer"]
        path = write_artifact(
            f"trace_{args.workload}_seed{args.seed}_cores{args.cores}.json",
            {
                "workload": args.workload,
                "seed": args.seed,
                "cores": args.cores,
                "setup_s": res["setup_s"],
                "layers": values,
                "ladder": res.get("ladder"),
                "windows": res["windows"],
                "flags": flags,
                "spans": res["spans"],
            },
        )
        print(f"# trace artifact: {os.path.relpath(path, ROOT)}")
    else:
        windows = res["ops"]
        values = {
            "setup_s": res["setup_s"],
            "op_wall_s": median(w["wall_s"] for w in windows),
            "op_core_s": median(w["core_s"] for w in windows),
        }
        wanted = spec["end_to_end"]
        print(f"# {args.workload} op_wall_s = {values['op_wall_s']:.6g} s")
        print(f"# {args.workload} peak_rss_mb = {res['peak_rss_mb']:.6g} MB")
        print(f"# {args.workload} samples = {len(windows)} operations")
        ops = ", ".join(f"{w['wall_s']:.2f}/{w['core_s']:.1f}" for w in windows)
        print(f"# {args.workload} per operation wall_s/core_s = {ops}")
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
