"""Tracing overhead per workload: the traced end-to-end numbers minus the
untraced ones, from the run records in ``.perfbench/results/`` (medians
over the seeds run in each mode).

    python3 perfbench/overhead.py
"""

from __future__ import annotations

import json
import statistics
import sys

import run


def main() -> int:
    runs: dict[tuple[str, int], list[dict]] = {}
    for p in sorted((run.WORK / "results").glob("*.json")):
        rec = json.loads(p.read_text())
        runs.setdefault((rec["meta"]["workload"], rec["meta"]["trace"]), []).append(rec["end_to_end"])
    print("| workload | metric | untraced | traced | overhead | runs (untraced/traced) |")
    print("|---|---|---|---|---|---|")
    for workload in sorted({w for w, _ in runs}):
        off, on = runs.get((workload, 0), []), runs.get((workload, 1), [])
        if not off or not on:
            continue
        for metric in off[0]:
            a = statistics.median(r[metric] for r in off)
            b = statistics.median(r[metric] for r in on)
            print(f"| {workload} | {metric} | {a:.4g} | {b:.4g} | {b - a:+.4g} "
                  f"({100 * (b - a) / a:+.1f}%) | {len(off)}/{len(on)} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
