"""Rate sweep for ``stream_steady`` (not listed in BENCHMARK.json).

    python3 perfbench/sweep.py --seed 1 --rates 0.1,0.2,0.3,0.5 --files 8

For each fixed release rate (files per second) a fresh live query is
warmed with ``stream.N_WARM`` files and then fed ``--files`` files on
the open-loop schedule. A rate is sustainable when the p90 commit
latency meets ``stream.LATENCY_LIMIT_MS`` and the backlog does not grow
(at most one file, the newest, still uncommitted when the last file is
released). Prints one JSON object and writes it to
``.perfbench_out/sweep_seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (  # noqa: E402
    median,
    prepare_env,
    quantile,
    start_session,
    stop_session,
    work_dir,
    write_artifact,
)


def backlog_at_last_release(res: dict) -> int:
    """Released files not yet committed when the last one was released."""
    rel = res["releaser"]
    t_last = max(rel.released.values())
    lat = res["latency_ms"]
    return sum(
        1 for name, ms in lat.items()
        if ms is None or rel.due[name] + ms / 1000 > t_last
    )


def sweep(rates, files, work: str, n_files: int, cores: int) -> list[dict]:
    import stream

    rows, spark = [], start_session(cores, work)
    for k, rate in enumerate(rates):
        lq = stream.warm_query(spark, files, work, rate, None, f"r{k}")
        try:
            res = stream.measure(lq, files[stream.N_WARM:], rate)
        finally:
            lq.stop()
        lat = [v for v in res["latency_ms"].values() if v is not None]
        p90 = quantile(lat, 0.9) if len(lat) == n_files else float("inf")
        backlog = backlog_at_last_release(res)
        rows.append(
            {
                "rate_files_per_s": rate,
                "files": n_files,
                "commit_latency_ms_p50": median(lat),
                "commit_latency_ms_p90": p90,
                "backlog_files_at_last_release": backlog,
                "gen_late_ms_max": res["late_ms_max"],
                "steal_pct": res["window"]["steal_pct"],
                "sustainable": p90 <= stream.LATENCY_LIMIT_MS and backlog <= 1,
            }
        )
        print(f"# rate {rate}/s: {json.dumps(rows[-1])}", flush=True)
    return rows


def main(argv=None) -> int:
    import stream

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rates", default="0.1,0.2,0.3,0.5")
    ap.add_argument("--files", type=int, default=8)
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 1)
    args = ap.parse_args(argv)
    rates = [float(r) for r in args.rates.split(",")]

    with work_dir("sweep") as work:
        prepare_env(work)
        files = stream.make_files(args.seed, work)
        files = files[: stream.N_WARM + args.files]
        try:
            rows = sweep(rates, files, work, args.files, args.cores)
        finally:
            stop_session()
    ok = [r["rate_files_per_s"] for r in rows if r["sustainable"]]
    doc = {
        "seed": args.seed,
        "cores": args.cores,
        "latency_limit_ms_p90": stream.LATENCY_LIMIT_MS,
        "rows": rows,
        "max_sustainable_rate": max(ok) if ok else None,
        "chosen_rate": stream.RATE_FILES_PER_S,
    }
    write_artifact(f"sweep_seed{args.seed}.json", doc)
    print(json.dumps(doc))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
