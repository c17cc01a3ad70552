#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload frame_ops --seed 1 --seconds 20 --trace 0

Builds graft and the harness (perfbench/build.py), generates the tables
(perfbench/gen.py) on the first run in a checkout, runs the workload's
queries in a closed loop with one client on local[4] for `--seconds`
(after untimed warm-up passes), checks
every output against perfbench/reference.json, and prints as its
last line {"correct", "attempted", "failed", "metrics"}: end-to-end metrics
with `--trace 0`, per-layer metrics with `--trace 1`.

`--record` writes the reference digests from this run instead of checking
them (for a deliberate change of the query set or of the tables).

Everything it writes goes under `.bench_out/` and the build directory.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_out")
DEADLINE_S = 170  # the whole run, build excluded, ends within this
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def workloads():
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


REFERENCE = os.path.join(HERE, "reference.json")


def make_data():
    """The tables, generated on the first run in a checkout (they are the
    same on every run); returns their directory."""
    import gen
    d = os.path.join(OUT, "data")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write(tmp)
        os.rename(tmp, d)
    return d


def run_harness(w, args, data_dir, deadline):
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    rec_file = os.path.join(OUT, f"record-{args.workload}-{args.seed}-{args.trace}.json")
    if os.path.exists(rec_file):
        os.remove(rec_file)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads", *JDK_OPENS,
           "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.local.dir=" + os.path.join(OUT, "tmp"),
           "-Dspark.sql.warehouse.dir=" + os.path.join(OUT, "warehouse"),
           "-cp", build.classpath(), "org.apache.spark.graftbench.Harness",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--data", data_dir, "--out", rec_file,
           "--queries", ",".join(w["queries"])]
    spawn = time.time() * 1e3
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("run: harness exceeded the time limit")
    if code != 0 or not os.path.exists(rec_file):
        raise SystemExit(f"run: harness failed with code {code}")
    with open(rec_file) as fh:
        return json.load(fh), spawn


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args(argv)

    ws = workloads()
    if args.workload not in ws:
        raise SystemExit(f"run: unknown workload {args.workload}; known: {', '.join(ws)}")
    w = ws[args.workload]
    build.build()
    deadline = time.monotonic() + DEADLINE_S
    data_dir = make_data()
    rec, spawn_ms = run_harness(w, args, data_dir, deadline)

    with open(REFERENCE) as fh:
        reference = json.load(fh)
    if args.record:
        reference.update({e["query"]: {"rows": e["rows"], "digest": e["digest"]}
                          for e in rec["execs"] if e["ok"] and e["pass"] == 0})
        with open(REFERENCE, "w") as fh:
            json.dump(reference, fh, indent=1, sort_keys=True)
            fh.write("\n")
    attempted, failed, problems = metrics.check_outputs(rec, reference)
    for p in problems:
        print("[perfbench] FAILED " + p, file=sys.stderr)

    setup_s = (rec["ready_ms"] - spawn_ms) / 1e3 + rec["warmup_s"]
    e2e, info = metrics.end_to_end(rec, setup_s)
    layers, spans = metrics.per_layer(rec)
    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-{args.seed}-{args.trace}"
    if args.trace:
        with open(os.path.join(OUT, f"spans-{tag}.jsonl"), "w") as fh:
            for s in spans:
                fh.write(json.dumps(s) + "\n")
    chosen = layers if args.trace else e2e
    result = {
        "correct": failed == 0 and all(v is not None for v, _ in chosen.values()),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace, **info,
              "setup": {"launch_s": (rec["ready_ms"] - spawn_ms) / 1e3,
                        "warmup_s": rec["warmup_s"]},
              "end_to_end": {k: v for k, (v, _) in e2e.items()},
              "per_layer": {k: v for k, (v, _) in layers.items()} if args.trace else None,
              **{k: result[k] for k in ("correct", "attempted", "failed")}}
    with open(os.path.join(OUT, "results.jsonl"), "a") as fh:
        fh.write(json.dumps(detail) + "\n")
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
