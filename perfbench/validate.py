#!/usr/bin/env python3
"""Check the benchmark's reference digests against the DuckDB oracle.

    python3 perfbench/validate.py [workload ...]

Generates the benchmark's tables, runs `graft.Verify` on them for the
workloads' queries (all benchmark workloads by default), and compares each
output with its oracle SQL in DuckDB through `tools/check.py`. A query that
passes there has the outputs whose digests perfbench/reference.json holds:
run.py checks every timed output against those digests, on the same tables.
Queries without an oracle are reported as such.
"""
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def main(argv):
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        names = argv or [w["name"] for w in json.load(fh)["workloads"]]
    ws = run.workloads()
    queries = sorted({q for n in names for q in ws[n]["queries"]})
    build.build()
    base = os.path.join(run.OUT, "validate")
    data, out = os.path.join(base, "data"), os.path.join(base, "out")
    shutil.rmtree(base, ignore_errors=True)
    gen.write(data)
    os.makedirs(os.path.join(run.OUT, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", *run.JDK_OPENS, "-Djava.io.tmpdir=" + os.path.join(run.OUT, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-cp", build.classpath(), "graft.Verify", data, out]
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(queries), SPARK_GRAFT_CPUS="4")
    subprocess.run(cmd, cwd=run.ROOT, env=env, check=True)
    r = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"), data, out],
                       cwd=run.ROOT, capture_output=True, text=True)
    status = {}
    for line in r.stdout.splitlines():
        m = re.match(r"(PASS|FAIL|\[rows-only\]) (\S+?):? ", line + " ")
        if m and m.group(2) in queries:
            status.setdefault(m.group(2), (m.group(1), line))
    bad = 0
    for q in queries:
        kind, line = status.get(q, ("MISSING", f"MISSING {q}: no result from tools/check.py"))
        print(line)
        bad += kind in ("FAIL", "MISSING")
    print(f"== {len(queries) - bad} of {len(queries)} queries agree with the oracle or have none")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
