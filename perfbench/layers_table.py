"""Render the drain's "where the time goes" table from a traced artifact.

    python3 perfbench/layers_table.py .perfbench_out/trace_drain_bulk_seed1_cores4.json

Prints the cumulative ladder (wall / core-seconds per rung, the shape
of ROADMAP.md's "Drain layers" table), each layer's self time and the
ladder-vs-drain check.
"""

from __future__ import annotations

import json
import sys

RUNGS = [
    ("scan", "scan"),
    ("s1_strip", "+ S1 strip"),
    ("s2_rules", "+ S2 rules"),
    ("s3_fp", "+ S3 + fp"),
    ("stream", "stateless streaming drain"),
    ("stateful", "+ stateful assembly, noop sink"),
]

SELF = [
    "source.scan_s",
    "normalize.strip_s",
    "text_rules.keep_s",
    "run.s3_fp_s",
    "run.stream_overhead_s",
    "stateful.assembly_s",
    "sink.self_s",
]


def render(doc: dict) -> str:
    lad, layers = doc["ladder"], doc["layers"]
    lines = [
        f"drain_bulk, seed {doc['seed']}, local[{doc['cores']}]",
        "",
        "| cumulative layer | wall / core-s |",
        "|---|---|",
    ]
    for key, label in RUNGS:
        lines.append(f"| {label} | {lad[key]['wall_s']:.2f} / {lad[key]['core_s']:.1f} |")
    lines.append(
        f"| + manifest sink (traced drain) | {layers['trace.drain_s']:.2f} / - |"
    )
    lines += ["", "| layer self time | s |", "|---|---|"]
    lines += [f"| {k} | {layers[k]:.2f} |" for k in SELF]
    lines += [
        "",
        f"ladder + sink = {layers['trace.ladder_sum_s']:.2f} s vs traced drain "
        f"{layers['trace.drain_s']:.2f} s (gap {100 * layers['trace.ladder_gap_frac']:+.1f}%); "
        f"tracing overhead {100 * layers['trace.overhead_frac']:+.1f}%",
    ]
    return "\n".join(lines)


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        print(render(json.load(f)))
