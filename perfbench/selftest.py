#!/usr/bin/env python3
"""Self-test of the benchmark at the size of the program's sf0.001 test data.

    python3 perfbench/selftest.py [--seed N]

Runs every workload (the two in BENCHMARK.json and query_mix) untraced
and traced with `--size tiny --seconds 1`, and asserts that:
- the run exits 0 and its last line is the result JSON;
- untraced, every end-to-end metric is printed as `<name> <value> <unit>`
  with its unit, the JSON holds exactly BENCHMARK.json's end-to-end
  metrics with their units, and error_rate is 0;
- traced, the JSON holds exactly BENCHMARK.json's per-layer metrics with
  their units, the trace file has spans, the tracing overhead is printed,
  the layer self times (before scaling) sum to the operations' wall time
  within 5%, and spans inside the operations cover part of their time.
Every check's outcome is printed and written to
`.bench_build/selftest.json`; the exit code is 1 if any check failed.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["orc_scan", "lakehouse_ingest", "query_mix"]
PRINTED = {"setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms", "ops_per_s": "1/s",
           "error_rate": "ratio", "cpu_ms_per_op": "ms", "rss_peak_mb": "MB"}
PRINTED_LAKEHOUSE = {"write_amp": "ratio", "space_amp": "ratio"}


def run(workload, seed, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=600)
    return p.returncode, p.stdout, p.stderr


def checks(workload, seed, trace, spec):
    code, out, err = run(workload, seed, trace)
    lines = out.strip().splitlines()
    yield "exit code 0", code == 0, f"exit {code}: {err[-1500:]}"
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        yield "result JSON on the last line", False, out[-500:]
        return
    words = {}
    for ln in lines[:-1]:
        f = ln.split()
        if len(f) >= 2:
            words[f[0]] = f[1:]
    for ln in lines:
        if ln.startswith(("error:", "wrong:", "warm-up error:")):
            yield "no failing operation", False, ln
    yield "correct and nothing failed", res["correct"] and res["failed"] == 0, \
        f"correct={res['correct']} failed={res['failed']} attempted={res['attempted']}"
    if trace == 0:
        want = dict(PRINTED, **(PRINTED_LAKEHOUSE if workload == "lakehouse_ingest" else {}))
        for name, unit in want.items():
            got = words.get(name)
            ok = got is not None and len(got) == 2 and got[1] == unit
            yield f"{name} printed with unit {unit}", ok, f"line: {name} {' '.join(got or [])}"
        yield "error_rate is 0", words.get("error_rate", ["?"])[0] in ("0", "0.0"), \
            f"error_rate {words.get('error_rate')}"
        metrics = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    else:
        metrics = {m["name"]: m["unit"] for m in spec["per_layer"]}
        trace_file = os.path.join(ROOT, ".bench_build", "traces", f"{workload}-seed{seed}.json")
        spans = 0
        if os.path.exists(trace_file):
            with open(trace_file) as f:
                spans = len(json.load(f)["spans"])
        yield "trace file with spans", spans > 0, f"{trace_file}: {spans} spans"
        yield "tracing overhead printed", any(ln.startswith("tracing overhead:") for ln in lines), ""
        layer = {}
        for ln in lines:
            f = ln.split()
            if len(f) == 3 and f[0] == "layer":
                layer[f[1]] = float(f[2])
        acc = layer.get("self.accounted_ratio")
        yield "layer self times, unscaled, sum to operation wall time within 5%", \
            acc is not None and abs(acc - 1) < 0.05, f"self.accounted_ratio {acc}"
        fb = layer.get("self.fallback_share")
        yield "spans inside the operations cover some of their time", fb is not None and fb < 1, \
            f"self.fallback_share {fb}"
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    yield "JSON metrics match BENCHMARK.json", got == metrics, \
        f"missing {sorted(set(metrics) - set(got))}, extra {sorted(set(got) - set(metrics))}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    report = []
    for w in WORKLOADS:
        for trace in (0, 1):
            for name, ok, detail in checks(w, a.seed, trace, spec):
                report.append({"workload": w, "trace": trace, "check": name, "ok": bool(ok),
                               "detail": "" if ok else detail})
                print(f"{'PASS' if ok else 'FAIL'} {w} trace={trace}: {name}"
                      + ("" if ok else f" -- {detail}"), flush=True)
    failed = [r for r in report if not r["ok"]]
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", "selftest.json"), "w") as f:
        json.dump({"seed": a.seed, "failed": len(failed), "checks": report}, f, indent=1)
    print(f"{len(report) - len(failed)}/{len(report)} checks passed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
