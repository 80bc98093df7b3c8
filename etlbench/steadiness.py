#!/usr/bin/env python3
"""Run the benchmark repeatedly and report how steady each metric is.

    python3 etlbench/steadiness.py --runs 10 [--sets 2] [--first-seed N]

Run from the root of the repository. The workloads and the run length are
BENCHMARK.json's, so a proof is made at the run length the benchmark
declares. Each round runs every workload once,
untraced, with the round's seed; odd rounds run the workloads in reverse
order so that no workload always follows the same one. For every
end-to-end metric it prints the median, the quartiles, the spread
(interquartile range over median, as `statistics.quantiles(n=4)` gives the
quartiles), min and max, and the metric's bound from BENCHMARK.json. A
spread is flagged when it exceeds a third of the bound (`setup_s` is
exempt: only its median is compared). With `--sets 2` the whole series is
repeated and each metric's second median is compared with the first; a
move worse than the bound is flagged. Exits non-zero if any run fails or
any flag is raised.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload, seed, seconds):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if p.returncode != 0 or not result or not result.get("correct"):
        print(f"!! {workload} seed {seed}: exit {p.returncode}", file=sys.stderr)
        print("\n".join(lines[-5:]), file=sys.stderr)
        return None, wall
    return {k: v["value"] for k, v in result["metrics"].items()}, wall


def series(workloads, runs, seconds, first_seed):
    values = {w: {} for w in workloads}
    walls = {w: [] for w in workloads}
    for r in range(runs):
        order = workloads if r % 2 == 0 else list(reversed(workloads))
        for w in order:
            m, wall = run_once(w, first_seed + r, seconds)
            walls[w].append(wall)
            if m is None:
                return None, walls
            for k, v in m.items():
                values[w].setdefault(k, []).append(v)
            print(f"   round {r} {w}: {wall:.1f} s", file=sys.stderr, flush=True)
    return values, walls


def spread(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0], 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3, (q3 - q1) / statistics.median(xs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=[1, 2])
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: (m["bound"], m["better"]) for m in bench["end_to_end"]}
    workloads = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]

    sets = []
    flags = 0
    for s in range(a.sets):
        print(f"== set {s + 1}: {a.runs} rounds of {', '.join(workloads)}", flush=True)
        values, walls = series(workloads, a.runs, seconds, a.first_seed + 1000 * s)
        if values is None:
            sys.exit(1)
        sets.append(values)
        for w in workloads:
            print(f"-- {w}  (run wall median {statistics.median(walls[w]):.1f} s, "
                  f"max {max(walls[w]):.1f} s)")
            print(f"   {'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}"
                  f"{'min':>12}{'max':>12}{'bound':>7}")
            for k, xs in values[w].items():
                q1, med, q3, sp = spread(xs)
                bound = bounds.get(k, (float("nan"), ""))[0]
                bad = k != "setup_s" and sp > bound / 3
                flags += bad
                print(f"   {k:<14}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{sp:>9.4f}"
                      f"{min(xs):>12.4f}{max(xs):>12.4f}{bound:>7.2f}{'  !!' if bad else ''}")
    if len(sets) == 2:
        print("== second median against first")
        for w in workloads:
            for k in sets[0][w]:
                m1 = statistics.median(sets[0][w][k])
                m2 = statistics.median(sets[1][w][k])
                bound, better = bounds[k]
                worse = (m2 - m1) / m1 if better == "lower" else (m1 - m2) / m1
                bad = worse > bound
                flags += bad
                print(f"   {w:<16}{k:<14}{m1:>12.4f}{m2:>12.4f}  worse by {worse:+.4f}"
                      f" (bound {bound}){'  !!' if bad else ''}")
    sys.exit(1 if flags else 0)


if __name__ == "__main__":
    main()
