"""Compare two result sets, parent against change.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl
    python3 perfbench/compare.py RUNS.jsonl

Each file holds the records ``run.py --out FILE`` appends, one per
run. Runs are paired by (workload, seed); make at least ten pairs per
workload with the same --seconds on both sides, alternating which
side runs first. Every (end-to-end metric, workload) pair is reported
as one of:

  improved    the change wins at least 9 of every 10 pairs (ties count
              for neither side) and the medians differ by more than
              the parent's interquartile range
  worse       the change's median is worse than the parent's by more
              than the metric's bound in BENCHMARK.json
  unresolved  the parent's own spread (interquartile range over
              median) is wider than the bound, so "unchanged" cannot
              be told apart from a regression -- unless every change
              run beats every parent run, which counts as improved
  unchanged   none of the above

Exit status 1 when any pair is worse or any run failed its checks.

Given one file, prints each metric's median, quartiles and spread
(interquartile range over median) per workload, against its bound:
the steadiness check a set of runs of one commit must pass.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(path: str) -> dict[tuple[str, int], dict]:
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                if r.get("trace", 0) == 0:
                    runs[r["workload"], r["seed"]] = r["result"]
    return runs


def quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, statistics.median(v), q3


def verdict(parent: list[float], change: list[float], lower_better: bool,
            bound: float) -> tuple[str, int]:
    sign = -1 if lower_better else 1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    n = len(parent)
    pq1, pmed, pq3 = quartiles(parent)
    cmed = statistics.median(change)
    gap = sign * (cmed - pmed)
    spread = (pq3 - pq1) / abs(pmed) if pmed else float("inf")
    if n >= 10 and wins >= 0.9 * n and gap > pq3 - pq1:
        return "improved", wins
    if -gap > bound * abs(pmed):
        return "worse", wins
    if spread > bound:
        beats_all = (max(change) < min(parent) if lower_better
                     else min(change) > max(parent))
        return ("improved" if beats_all else "unresolved"), wins
    return "unchanged", wins


def spreads(path: str, spec: dict) -> int:
    runs = load(path)
    status = 0
    print(f"{'workload':<10} {'metric':<12} {'runs':>4} {'median':>12} "
          f"{'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
    for w in sorted({w for w, _ in runs}):
        res = [r for (ww, _), r in sorted(runs.items()) if ww == w]
        bad = sum(1 for r in res if not r["correct"])
        for m in spec["end_to_end"]:
            v = [r["metrics"][m["name"]]["value"] for r in res]
            q1, med, q3 = quartiles(v)
            spread = (q3 - q1) / abs(med) if med else float("inf")
            flag = ""
            if spread > m["bound"] and m["name"] != "setup_s":
                flag, status = "  over bound", 1
            elif spread > m["bound"] / 3:
                flag = "  over a third of the bound"
            print(f"{w:<10} {m['name']:<12} {len(v):>4} {med:>12.4f} {q1:>12.4f} "
                  f"{q3:>12.4f} {spread:>7.3f} {m['bound']:>6}{flag}")
        if bad:
            print(f"{w:<10} {bad} of {len(res)} runs failed their output checks")
            status = 1
    return status


def main(argv: list[str]) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if len(argv) == 1:
        return spreads(argv[0], spec)
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    parent, change = load(argv[0]), load(argv[1])
    status = 0
    for side, runs in (("parent", parent), ("change", change)):
        bad = sorted(k for k, r in runs.items() if not r["correct"])
        if bad:
            print(f"{side}: runs that failed their output checks: {bad}")
            status = 1
    workloads = sorted({w for w, _ in parent} & {w for w, _ in change})
    print(f"{'workload':<10} {'metric':<12} {'parent median [q1, q3]':>34} "
          f"{'change median [q1, q3]':>34} {'wins':>6}  verdict")
    for w in workloads:
        seeds = sorted({s for ww, s in parent if ww == w} & {s for ww, s in change if ww == w})
        for m in spec["end_to_end"]:
            name = m["name"]
            pv = [parent[w, s]["metrics"][name]["value"] for s in seeds]
            cv = [change[w, s]["metrics"][name]["value"] for s in seeds]
            if not pv:
                continue
            v, wins = verdict(pv, cv, m["better"] == "lower", m["bound"])
            if v == "worse":
                status = 1
            pq = quartiles(pv)
            cq = quartiles(cv)
            print(f"{w:<10} {name:<12} "
                  f"{pq[1]:>12.4g} [{pq[0]:.4g}, {pq[2]:.4g}]".ljust(58)
                  + f"{cq[1]:>12.4g} [{cq[0]:.4g}, {cq[2]:.4g}]".ljust(36)
                  + f"{wins:>3}/{len(seeds):<3} {v}")
    return status


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
