#!/usr/bin/env python3
"""The repository's benchmark: one seeded workload, one JVM, one client.

    python3 perfbench/run.py --workload orc_scan --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the program and the harness from
source (cached under `.bench_build/`), generates the workload's inputs from
the seed, runs the harness (`graftbench.Main`) at `local[nproc]` as a
closed loop, checks every result, and prints each metric as
`<name> <value> <unit>` lines followed by one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the per-layer ones, and
the spans and per-operation layer self times go to
`.bench_build/traces/<workload>-seed<seed>.json`.

Workloads: orc_scan and lakehouse_ingest (those BENCHMARK.json lists) and
query_mix, the SparkEntry operator mix, run by hand. `--size tiny` is the
self-test's input size.
perfbench/spec.json says what each workload and metric is for.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("orc_scan", "query_mix", "lakehouse_ingest")
# A run of a BENCHMARK.json workload must end within 180 s; query_mix, run
# by hand, re-runs 18 queries for their results in each of a traced run's
# 4 rounds and takes longer.
JVM_TIMEOUT_S = {"orc_scan": 150, "lakehouse_ingest": 150, "query_mix": 450}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# Input sizes: lineitem rows of orc_scan's table; the star-schema scale
# factor of query_mix (sf 1 = 6M lineitem rows); the scale factor of the
# documents table lakehouse_ingest's deliveries draw from. "tiny" is the
# self-test's size, that of the program's sf0.001 test data.
SIZES = {
    "full": {"orc_scan_rows": 600_000, "query_mix_sf": 0.01, "lakehouse_sf": 0.1},
    "tiny": {"orc_scan_rows": 6_000, "query_mix_sf": 0.001, "lakehouse_sf": 0.001},
}
LAKEHOUSE_CYCLES = 2  # per round; every round replays them on fresh tables


def spec_metrics(kind):
    """(name, unit) of BENCHMARK.json's `end_to_end` or `per_layer` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def make_inputs(workload, seed, data, size):
    if workload == "orc_scan":
        rows = gen.generate(data, seed, 0.1, tables=["lineitem"], lineitem_rows=size["orc_scan_rows"],
                            null_flag_share=0.005)
    elif workload == "query_mix":
        rows = gen.generate(data, seed, size["query_mix_sf"])
    else:
        rows = gen.generate(data, seed, size["lakehouse_sf"], tables=["documents"])
        rows.update(oracle.make_deliveries(data, seed, LAKEHOUSE_CYCLES))
    size = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(data) for f in fs)
    return rows, size


def run_jvm(classes, args, log_path, tmp, timeout):
    jars = build.spark_jars()
    cp = os.pathsep.join([classes, os.path.join(jars, "*")])
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main"] + args)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -1
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    a = ap.parse_args()

    try:
        classes = build.build(BUILD_DIR)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    cores = str(os.cpu_count() or 1)
    run_dir = os.path.join(BUILD_DIR, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out, tmp = (os.path.join(run_dir, d) for d in ("data", "out", "tmp"))
    os.makedirs(tmp)
    try:
        t0 = time.time()
        rows, input_bytes = make_inputs(a.workload, a.seed, data, SIZES[a.size])
        gen_s = time.time() - t0
        code = run_jvm(classes, [a.workload, str(a.seed), str(a.seconds), str(a.trace), data, out, cores],
                       os.path.join(run_dir, "jvm.log"), tmp, JVM_TIMEOUT_S[a.workload])
        result_path = os.path.join(out, "result.json")
        if code != 0 or not os.path.exists(result_path):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            print(f"harness exited with {code}", file=sys.stderr)
            return 3
        with open(result_path) as f:
            res = json.load(f)
        wrong = {w["idx"]: w["reason"] for w in res["wrong"]}
        if a.workload == "query_mix":
            wrong.update(oracle.check_query_mix(data, os.path.join(out, "check"), res["ops"]))
        elif a.workload == "lakehouse_ingest":
            wrong.update(oracle.check_lakehouse(data, res["check"]))
            wrong.update(oracle.check_query_mix(data, os.path.join(out, "check"), res["ops"]))
        errors = res["errors"]
        attempted = res["attempted"]
        failed = len({e["idx"] for e in errors} | set(wrong))
        for e in errors:
            print(f"error: op {e['idx']} {e['op']}: {e['error']}")
        for i, reason in sorted(wrong.items()):
            print(f"wrong: op {i}: {reason}")
        for e in res["warmup_errors"]:
            print(f"warm-up error: {e['op']}: {e['error']}")
        amb = res["ambient"]
        print(f"run: workload={a.workload} seed={a.seed} cores={cores} rounds={res['rounds']} "
              f"loop_s={res['loop_s']:.3f} inputs_rows={rows} inputs_bytes={input_bytes} "
              f"gen_s={gen_s:.2f}")
        print("timeline_s: " + " ".join(f"{k}={v:.2f}" for k, v in res["timeline_s"].items()))
        print(f"ambient: loadavg_before={amb['before']['loadavg']} loadavg_after={amb['after']['loadavg']} "
              f"cpu_control_ms_before={amb['before']['cpu_control_ms']:.2f} "
              f"cpu_control_ms_after={amb['after']['cpu_control_ms']:.2f}"
              + (" LOADED (load above nproc)" if amb["loaded"] else ""))
        m = res["metrics"]
        extra = res.get("check", {})
        tail = res["latency_tail"]
        lines = [(k, m[k], u) for k, u in spec_metrics("end_to_end")]
        lines.append(("error_rate", failed / attempted if attempted else 1.0, "ratio"))
        if a.workload == "lakehouse_ingest":
            lines += [("write_amp", extra["write_amp"], "ratio"), ("space_amp", extra["space_amp"], "ratio")]
        for k, v, u in lines:
            print(f"{k} {v} {u}")
        print(f"latency_tail: p{tail['percentile']:.1f} with {tail['samples_beyond']} samples beyond, "
              f"{tail['samples']} samples")
        for name, p50 in sorted(res["op_p50_ms"].items()):
            print(f"{name} {p50} ms")
        if a.trace:
            layers = dict(res["per_layer"])
            if a.workload == "lakehouse_ingest":
                layers.update({"write.files_written": extra["files_per_append"],
                               "lakehouse.write_amp": extra["write_amp"],
                               "lakehouse.space_amp": extra["space_amp"],
                               "mor.delete_files_live": extra["delete_files_live"],
                               "manifest.files_live": extra["files_live"],
                               "manifest.snapshots_live": extra["snapshots_live"]})
            for k in sorted(layers):
                print(f"layer {k} {layers[k]}")
            print(f"tracing overhead: {layers['trace.overhead_ms']:.3f} ms per operation "
                  f"({100 * layers['trace.overhead_ratio']:.1f}% of untraced p50)")
            print(f"layer attribution: swept spans / wall = {layers['self.accounted_ratio']:.4f}, "
                  f"{100 * layers['self.fallback_share']:.1f}% of wall inside no inner span "
                  f"(charged to the operation's own layer)")
            traces = os.path.join(BUILD_DIR, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copyfile(os.path.join(out, "trace.json"),
                            os.path.join(traces, f"{a.workload}-seed{a.seed}.json"))
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in spec_metrics("per_layer")}
        else:
            metrics = {k: {"value": float(m[k]), "unit": u} for k, u in spec_metrics("end_to_end")}
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
