#!/usr/bin/env python3
"""Median, quartiles and spread of each metric over saved benchmark runs.

    python3 perfbench/summarize.py OUT_FILE...

Each file holds one run's stdout; its last line is the result object
and the line before it the run details (for the workload name). Runs
are grouped by workload. The spread is (Q3 - Q1) / median with the
quartiles of ``statistics.quantiles(values, n=4)``, the figure the
regression bounds in ``BENCHMARK.json`` are checked against.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> tuple[str, dict, dict]:
    with open(path) as fh:
        lines = [ln for ln in fh.read().splitlines() if ln.strip()]
    detail = json.loads(lines[-2])["perfbench"]
    return detail["workload"], detail, json.loads(lines[-1])


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, Q1, Q3, (Q3 - Q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(paths: list[str]) -> int:
    runs: dict[str, list[tuple[dict, dict]]] = {}
    for p in paths:
        w, detail, result = load(p)
        runs.setdefault(w, []).append((detail, result))
    print("| workload | metric | runs | median | Q1 | Q3 | spread |")
    print("|---|---|---|---|---|---|---|")
    for w, rs in sorted(runs.items()):
        bad = sum(1 for _, r in rs if not r["correct"])
        for name in rs[0][1]["metrics"]:
            vals = [r["metrics"][name]["value"] for _, r in rs]
            med, q1, q3, s = spread(vals)
            print(f"| {w} | {name} | {len(vals)} | {med:.4g} | {q1:.4g} "
                  f"| {q3:.4g} | {s:.3f} |")
        med, q1, q3, _ = spread([d["run_wall_s"] for d, _ in rs])
        print(f"| {w} | whole-run wall s (incorrect runs: {bad}) | {len(rs)} "
              f"| {med:.4g} | {q1:.4g} | {q3:.4g} | |")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
