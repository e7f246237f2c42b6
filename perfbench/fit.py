#!/usr/bin/env python3
"""Two-point fit of the per-round cost: fixed seconds per round + µs per URL.

    python3 perfbench/fit.py run1.log run2.log ...

Each log is the standard output of ``perfbench/run.py``; every crawl run
prints one ``fit-point`` line with its median round wall (round_s_p50) and
mean URLs per round (deduped + scheduled). Taking the median of each over
the small_rounds runs and over the frontier_default runs gives two points
(URLs per round, s per round); the line through them is

    round_s = intercept + slope * urls_per_round

The intercept is the per-round fixed cost that ROADMAP Direction 2 aims to
cut. This is a derived reading for reports, not a gated metric.
"""

from __future__ import annotations

import json
import statistics
import sys

MARK = "[perfbench] fit-point "


def fit(points: list[dict]) -> tuple[float, float]:
    by: dict[str, list[dict]] = {}
    for p in points:
        by.setdefault(p["workload"], []).append(p)
    missing = {"small_rounds", "frontier_default"} - set(by)
    if missing:
        raise SystemExit(f"fit.py: no fit-point lines for {sorted(missing)}")
    (u1, s1), (u2, s2) = [
        (statistics.median(p["urls_per_round"] for p in by[w]),
         statistics.median(p["round_s_p50"] for p in by[w]))
        for w in ("small_rounds", "frontier_default")]
    slope = (s2 - s1) / (u2 - u1)
    return s1 - slope * u1, slope


def main(paths: list[str]) -> int:
    points = []
    for path in paths:
        with open(path) as f:
            points += [json.loads(line[len(MARK):]) for line in f
                       if line.startswith(MARK)]
    intercept, slope = fit(points)
    n = {w: sum(p["workload"] == w for p in points)
         for w in ("small_rounds", "frontier_default")}
    print(f"per-round fit from {n['small_rounds']} small_rounds and "
          f"{n['frontier_default']} frontier_default runs: "
          f"intercept {intercept:.3f} s/round, slope {slope * 1e6:.2f} us/URL")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
