"""Compare two sets of benchmark results, one row per workload and metric.

    python3 perfbench/compare.py RESULTS_A [RESULTS_B]

A result set is a directory of files named ``<workload>-<anything>``,
each holding the standard output of one ``run.py`` run (its last line is
the result object). For each set the tool prints every metric's median,
quartiles and spread (quartile distance over median), marks a spread
wider than the metric's bound in BENCHMARK.json, and, given a second
set, the change of the median against that bound.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(directory: str) -> dict[str, list[dict]]:
    """workload -> result objects; files whose run printed no result
    count as failed runs."""
    out: dict[str, list[dict]] = {}
    for name in sorted(os.listdir(directory)):
        workload = name.split("-", 1)[0]
        with open(os.path.join(directory, name)) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            res = {"correct": False, "metrics": {}}
        out.setdefault(workload, []).append(res)
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def summarize(runs: list[dict]) -> dict[str, tuple[float, float, float, int]]:
    vals: dict[str, list[float]] = {}
    for r in runs:
        for k, m in r.get("metrics", {}).items():
            vals.setdefault(k, []).append(float(m["value"]))
    return {k: (*quartiles(v), len(v)) for k, v in vals.items()}


def main(argv: list[str]) -> int:
    if not 2 <= len(argv) <= 3:
        print(__doc__, file=sys.stderr)
        return 2
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    metrics = spec["end_to_end"] + spec["per_layer"]
    bounds = {m["name"]: m.get("bound") for m in metrics}
    higher = {m["name"] for m in metrics if m["better"] == "higher"}
    sets = [load(d) for d in argv[1:]]
    bad = False
    for workload in sorted(set().union(*sets)):
        print(f"== {workload}")
        runs = [s.get(workload, []) for s in sets]
        for i, rs in enumerate(runs):
            ok = sum(1 for r in rs if r.get("correct"))
            print(f"   set {'AB'[i]}: {len(rs)} runs, {ok} correct")
        sums = [summarize(rs) for rs in runs]
        print(f"   {'metric':34s} {'set':3s} {'median':>11s} {'q1':>11s} {'q3':>11s} "
              f"{'spread':>7s} {'bound':>6s} {'change':>7s}")
        for k in sorted(set().union(*sums)):
            bound = bounds.get(k)
            for i, sm in enumerate(sums):
                if k not in sm:
                    continue
                q1, med, q3, n = sm[k]
                spread = (q3 - q1) / med if med else 0.0
                flag = ""
                if bound is not None and spread > bound:
                    flag, bad = " WIDE", True
                change = ""
                if i == 1 and k in sums[0] and sums[0][k][1]:
                    ch = med / sums[0][k][1] - 1
                    change = f"{ch:+7.1%}"
                    worse = -ch if k in higher else ch
                    if bound is not None and worse > bound:
                        change += " WORSE"
                        bad = True
                print(f"   {k:34s} {'AB'[i]:3s} {med:11.4g} {q1:11.4g} {q3:11.4g} "
                      f"{spread:7.1%} {'' if bound is None else f'{bound:.2f}':>6s} "
                      f"{change}{flag}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
