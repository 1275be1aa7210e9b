#!/usr/bin/env python3
"""Compare two sets of run records written by ``run.py``.

    python3 perfbench/compare.py BASE_RECORD... --against NEW_RECORD...

Records are the ``.perfbench/runs/*.json`` files.  Every record of both
sets must come from one workload, trace mode and machine shape (core
count, ``SPARK_GRAFT_CPUS`` and driver heap); the comparison refuses
anything else.
For each metric it prints both medians, each side's quartile spread
(``statistics.quantiles(values, n=4)``, as a share of its median) and
the change of the median; an end-to-end metric whose change is worse
than its ``BENCHMARK.json`` bound is marked ``WORSE``, and one whose
spread exceeds its bound ``unresolved``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHAPE = ("nproc", "spark_graft_cpus", "driver_memory")


def load(paths: list[str]) -> list[dict]:
    recs = []
    for p in paths:
        with open(p) as f:
            recs.append(json.load(f))
    return recs


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return float("nan")
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q[2] - q[0]) / med if med else float("nan")


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base", nargs="+")
    p.add_argument("--against", nargs="+", required=True)
    args = p.parse_args(argv)
    base, new = load(args.base), load(args.against)
    keys = {(r["workload"], r["trace"], *(r["machine"].get(k) for k in SHAPE))
            for r in base + new}
    if len(keys) != 1:
        print(f"compare: records differ in workload, trace mode or machine "
              f"shape {SHAPE}: {sorted(map(str, keys))}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    print(f"{'metric':28s} {'base':>12s} {'spread':>7s} {'new':>12s} {'spread':>7s} {'change':>8s}")
    names = [n for n in bounds if all(n in r["result"]["metrics"] for r in base + new)]
    for name in names:
        b = [r["result"]["metrics"][name]["value"] for r in base]
        n = [r["result"]["metrics"][name]["value"] for r in new]
        mb, mn = statistics.median(b), statistics.median(n)
        change = (mn - mb) / mb if mb else float("nan")
        m = bounds[name]
        verdict = ""
        if "bound" in m:
            worse = change > m["bound"] if m["better"] == "lower" else change < -m["bound"]
            if max(spread(b), spread(n)) > m["bound"]:
                verdict = "unresolved"
            elif worse:
                verdict = "WORSE"
        print(f"{name:28s} {mb:12.5g} {spread(b):7.3f} {mn:12.5g} {spread(n):7.3f} "
              f"{change:+8.3f} {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
