#!/usr/bin/env python3
"""Tracing overhead per end-to-end metric, from saved results.

    python3 perfbench/overhead.py [results dir]

Pairs every traced run in ``.perfbench/results`` with the untraced runs
of the same workload and seed, and prints, per workload and metric, the
medians of both and the traced run's relative cost (positive = tracing
made the metric worse).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

from metrics import END_TO_END  # run as a script from any directory


def main(argv: list[str]) -> int:
    results = argv[0] if argv else os.path.join(".perfbench", "results")
    plain: dict[tuple[str, int], list[dict]] = {}
    traced: dict[tuple[str, int], list[dict]] = {}
    for path in glob.glob(os.path.join(results, "*.json")):
        with open(path, encoding="utf-8") as f:
            r = json.load(f)
        if not r.get("correct"):
            continue
        key = (r["meta"]["workload"], r["meta"]["seed"])
        (traced if r["meta"]["trace"] else plain).setdefault(key, []).append(r["metrics"])
    by_workload: dict[str, dict[str, tuple[list, list]]] = {}
    for key, runs in traced.items():
        if key not in plain:
            continue
        for name in END_TO_END:
            t = [m[f"trace.{name}"]["value"] for m in runs]
            u = [m[name]["value"] for m in plain[key]]
            pair = by_workload.setdefault(key[0], {}).setdefault(name, ([], []))
            pair[0].extend(u)
            pair[1].extend(t)
    if not by_workload:
        print("no workload has both a traced and an untraced run of the same seed")
        return 1
    for workload, per_metric in sorted(by_workload.items()):
        for name, (u, t) in per_metric.items():
            mu, mt = statistics.median(u), statistics.median(t)
            worse = (mt - mu) / mu if END_TO_END[name][1] == "lower" else (mu - mt) / mu
            print(f"{workload} {name}: untraced {mu:.6g} traced {mt:.6g} "
                  f"overhead {worse:+.1%} (runs {len(u)}/{len(t)})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
