#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one benchmark workload.

    python3 scripts/ab.py --a ../parent --b . --workload orc_scan --seeds 11-20
    python3 scripts/ab.py --a ../parent --b . --workload orc_scan --seeds 21-23 --trace

For each seed it runs `python3 perfbench/run.py --trace 0` once in each
checkout (each builds and runs its own sources), swapping which side goes
first on every other pair, so slow drift of the machine's load falls on
both sides alike. It then prints, per end-to-end metric of
BENCHMARK.json, each side's median and quartiles, the median change from
A to B, how many pairs B won, and whether the medians differ by more than
the distance between A's quartiles. A run that fails, or whose JSON says
`correct: false`, stops the comparison: numbers from a wrong run are not
evidence. Each run lasts BENCHMARK.json's `run_seconds`; the two
checkouts must agree on it.

With `--trace` the pairs are traced runs (`--trace 1`) and it prints, for
every `layer <name> <value>` line perfbench/run.py emits, each side's
median and quartiles, the median change and how many pairs B came out
lower: the per-layer evidence that a change moved the layer it claims.
Traced runs carry the tracer's own overhead, so their end-to-end numbers
are not comparable with untraced ones and are not printed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def benchmark(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.exit(f"refused: {checkout} seed {seed} exited with {p.returncode}:\n{p.stdout[-3000:]}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        sys.exit(f"refused: {checkout} seed {seed} ran incorrectly "
                 f"({res['failed']} of {res['attempted']} operations failed):\n{p.stdout[-3000:]}")
    if trace:
        return {l.split()[1]: float(l.split()[2]) for l in p.stdout.splitlines()
                if l.startswith("layer ") and len(l.split()) == 3}
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--a", required=True, help="baseline checkout")
    ap.add_argument("--b", required=True, help="changed checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,7")
    ap.add_argument("--trace", action="store_true", help="compare per-layer metrics of traced runs")
    a = ap.parse_args()
    sides = {"A": os.path.abspath(a.a), "B": os.path.abspath(a.b)}
    bench = benchmark(sides["A"])
    seconds = bench["run_seconds"]
    if benchmark(sides["B"])["run_seconds"] != seconds:
        sys.exit("refused: A and B declare different run_seconds in BENCHMARK.json")
    metrics = [(m["name"], m["better"]) for m in bench["end_to_end"]]
    for side, path in sides.items():
        # build before the first timed pair, so no pair pays a compile
        p = subprocess.run([sys.executable, "perfbench/build.py"], cwd=path,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if p.returncode != 0:
            sys.exit(f"refused: build of {side} ({path}) failed:\n{p.stdout[-3000:]}")

    runs = {"A": [], "B": []}
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = ("A", "B") if i % 2 == 0 else ("B", "A")
        for side in order:
            runs[side].append(run(sides[side], a.workload, seed, seconds, a.trace))
        key = "self.accounted_ratio" if a.trace else "latency_p50_ms"
        line = "  ".join(f"{s}:{runs[s][-1].get(key, float('nan')):.4g}" for s in ("A", "B"))
        print(f"pair {i + 1} seed {seed} first={order[0]} {key} {line}", flush=True)

    n = len(runs["A"])
    print(f"\n{a.workload}: {n} pairs{' (traced)' if a.trace else ''}, A={sides['A']} B={sides['B']}")
    if a.trace:
        names = sorted(set().union(*runs["A"], *runs["B"]))
        print(f"{'layer':<36} {'A median [q1, q3]':>30} {'B median [q1, q3]':>30} {'change':>8} "
              f"{'B lower':>7}")
        for name in names:
            xa = [r.get(name, 0.0) for r in runs["A"]]
            xb = [r.get(name, 0.0) for r in runs["B"]]
            qa, qb = quartiles(xa), quartiles(xb)
            lower = sum(1 for va, vb in zip(xa, xb) if vb < va)
            change = (qb[1] - qa[1]) / qa[1] * 100 if qa[1] else float("nan")
            fa = f"{qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]"
            fb = f"{qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]"
            print(f"{name:<36} {fa:>30} {fb:>30} {change:>+7.1f}% {lower:>3}/{n}")
        return
    print(f"{'metric':<16} {'A median [q1, q3]':>28} {'B median [q1, q3]':>28} {'change':>8} "
          f"{'B wins':>7} {'beyond A IQR':>12}")
    for name, better in metrics:
        xa = [r[name] for r in runs["A"]]
        xb = [r[name] for r in runs["B"]]
        qa, qb = quartiles(xa), quartiles(xb)
        sign = -1 if better == "lower" else 1
        wins = sum(1 for va, vb in zip(xa, xb) if sign * (vb - va) > 0)
        change = (qb[1] - qa[1]) / qa[1] * 100 if qa[1] else float("nan")
        fa = f"{qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]"
        fb = f"{qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]"
        beyond = abs(qb[1] - qa[1]) > qa[2] - qa[0]
        print(f"{name:<16} {fa:>28} {fb:>28} {change:>+7.1f}% {wins:>3}/{n} {str(beyond):>12}")


if __name__ == "__main__":
    main()
