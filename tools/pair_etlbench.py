#!/usr/bin/env python3
"""Compare two checkouts on the etlbench workloads in alternating pairs.

    python3 tools/pair_etlbench.py PARENT_DIR CHANGE_DIR [--pairs 10]
        [--workloads corpus_stream,etl_roundtrip]

PARENT_DIR and CHANGE_DIR are two checkouts of the repository, each built
from its own clean `git archive` (a copied `target/` makes the two builds
delete each other's classes). The workloads, run length and end-to-end
metrics come from CHANGE_DIR's BENCHMARK.json; every run uses seed 1. Each
run goes through the checkout's own `etlbench/steadiness.py` runner
(`run_once`: `etlbench/run.py --trace 0`, started in that checkout), so
this script holds no copy of it. Each checkout first runs the first
workload once, untimed, so that its build is done before any pair. Then,
per workload, it runs once in each checkout per pair and alternates which
side runs first.

For every end-to-end metric it prints each side's median and quartiles
(steadiness.py's `spread`), the median move against the parent, the pairs
the change won (ties count for neither side) and a verdict: `gain` when the
change won at least nine tenths of the pairs and its median is better than
the parent's by more than the parent's interquartile range; `WORSE` when
its median is worse than the parent's by more than the metric's bound (a
share of the parent's median); `-` otherwise. Exits non-zero when a run
fails its output checks or any metric reads `WORSE`. Run nothing else on
the machine meanwhile.
"""
import argparse
import importlib.util
import json
import math
import os
import sys

SEED = 1


def load_runner(side, checkout):
    path = os.path.join(checkout, "etlbench", "steadiness.py")
    spec = importlib.util.spec_from_file_location(f"steadiness_{side}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default=None,
                    help="comma-separated; default: every workload in BENCHMARK.json")
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = (a.workloads.split(",") if a.workloads
                 else [w["name"] for w in bench["workloads"]])
    seconds = bench["run_seconds"]
    runners = {side: load_runner(side, checkout) for side, checkout in sides.items()}

    def run(side, workload):
        os.chdir(sides[side])  # run.py builds and runs the checkout it starts in
        m, wall = runners[side].run_once(workload, SEED, seconds)
        if m is None:
            sys.exit(f"!! the {side} run of {workload} failed")
        return m, wall

    for side in sides:
        print(f"   build and warm {side}", file=sys.stderr, flush=True)
        run(side, workloads[0])

    spread = runners["change"].spread
    worse = False
    for w in workloads:
        values = {side: [] for side in sides}
        for i in range(a.pairs):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                m, wall = run(side, w)
                values[side].append(m)
                shown = " ".join(f"{s['name']}={m[s['name']]:.4g}" for s in bench["end_to_end"])
                print(f"   pair {i} {w} {side}: {wall:.1f} s  {shown}", file=sys.stderr, flush=True)
        print(f"== {w}: {a.pairs} pairs, seed {SEED}, {seconds} s runs, "
              f"parent {sides['parent']}, change {sides['change']}")
        print(f"   {'metric':<13}{'parent q1':>11}{'median':>11}{'q3':>11}"
              f"{'change q1':>11}{'median':>11}{'q3':>11}{'move':>9}{'wins':>7}  verdict")
        for spec in bench["end_to_end"]:
            k, lower = spec["name"], spec["better"] == "lower"
            p = [m[k] for m in values["parent"]]
            c = [m[k] for m in values["change"]]
            wins = sum((y < x) if lower else (y > x) for x, y in zip(p, c) if x != y)
            p1, pm, p3, _ = spread(p)
            c1, cm, c3, _ = spread(c)
            gain_by = (pm - cm) if lower else (cm - pm)
            verdict = "-"
            if wins >= math.ceil(0.9 * a.pairs) and gain_by > p3 - p1:
                verdict = "gain"
            elif pm and -gain_by > spec["bound"] * abs(pm):
                verdict, worse = "WORSE", True
            move = (cm / pm - 1) if pm else float("nan")
            print(f"   {k:<13}{p1:>11.4g}{pm:>11.4g}{p3:>11.4g}{c1:>11.4g}{cm:>11.4g}"
                  f"{c3:>11.4g}{move:>+9.1%}{wins:>4}/{a.pairs:<2}  {verdict}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
