"""Median and quartiles of each end-to-end metric over a set of untraced
runs, with the spread the acceptance rule uses: (Q3 - Q1) / median, from
``statistics.quantiles(values, n=4)``.

    python3 perfbench/steadiness.py .perfbench/results/batch-seed*-trace0-*.json

Prints one markdown row per workload and metric, with the metric's bound
and whether the spread stays below a third of it.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spec import END_TO_END  # noqa: E402


def rows(records: list[dict]) -> list[str]:
    by_workload: dict[str, list[dict]] = {}
    for r in records:
        if not r["trace"]:
            by_workload.setdefault(r["workload"], []).append(r)
    out = [
        "| workload | metric | runs | median | Q1 | Q3 | spread | bound | < bound/3 |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for workload, runs in by_workload.items():
        for name, (_, _, bound) in END_TO_END.items():
            values = [r["values"][name] for r in runs]
            med = statistics.median(values)
            q1, _, q3 = statistics.quantiles(values, n=4)
            spread = (q3 - q1) / med
            out.append(
                f"| {workload} | {name} | {len(values)} | {med:.4g} | {q1:.4g} | {q3:.4g} "
                f"| {spread:.3f} | {bound} | {'yes' if spread < bound / 3 else 'no'} |"
            )
    return out


def main(paths: list[str]) -> int:
    records = []
    for p in paths:
        with open(p) as f:
            records.append(json.load(f))
    print("\n".join(rows(records)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
