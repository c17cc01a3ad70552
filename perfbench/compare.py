#!/usr/bin/env python3
"""Compare the benchmark on two trees: a parent and a change.

Run alternating pairs (the side that runs first alternates with the pair):

    python3 perfbench/compare.py run --parent ../parent --change . \\
        --workload llm_ops --pairs 10 --out /some/dir

writes <out>/parent.jsonl and <out>/change.jsonl (one run record a line, as
perfbench/run.py appends to .bench_out/results.jsonl), plus one traced run of
each side. Then report:

    python3 perfbench/compare.py report <out>/parent.jsonl <out>/change.jsonl

For each workload and end-to-end metric of BENCHMARK.json the report gives
each side's median and quartiles and one verdict:

- `gain`: at least 10 pairs, the change wins at least 9 in 10 of them (ties
  count for neither), and the medians differ by more than the parent's
  interquartile range;
- `regression`: the change's median is worse than the parent's by more than
  the metric's bound;
- `unresolved`: the parent's own spread (quartile distance over median) is
  wider than the bound, and not every change run beats every parent run;
- `within bound` otherwise.

Beside each workload it prints the per-layer metrics of the traced runs,
parent and change medians with their difference.

    python3 perfbench/compare.py summary .bench_out/results.jsonl

prints the median, quartiles and spread of every metric of one result set.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def verdict(parent, change, better, bound):
    """Apply the comparison rule to two lists of values, index i of each
    being pair i. Returns (verdict, wins, pairs)."""
    sign = 1 if better == "lower" else -1
    n = min(len(parent), len(change))
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    p1, pm, p3 = quartiles(parent)
    cm = statistics.median(change)
    if n >= 10 and wins >= 0.9 * n and abs(cm - pm) > (p3 - p1):
        return "gain", wins, n
    if sign * (cm - pm) > bound * abs(pm):
        return "regression", wins, n
    best_parent = min(parent) if better == "lower" else max(parent)
    if pm and (p3 - p1) / abs(pm) > bound and not all(sign * (best_parent - c) > 0 for c in change):
        return "unresolved", wins, n
    return "within bound", wins, n


def report(parent_file, change_file, out=sys.stdout):
    s = spec()
    parent, change = load(parent_file), load(change_file)
    for w in [x["name"] for x in s["workloads"]]:
        pu = sorted((r for r in parent if r["workload"] == w and not r["trace"]), key=lambda r: r["seed"])
        cu = {r["seed"]: r for r in change if r["workload"] == w and not r["trace"]}
        pairs = [(p, cu[p["seed"]]) for p in pu if p["seed"] in cu]
        if not pairs:
            continue
        print(f"== {w}: {len(pairs)} pairs", file=out)
        for m in s["end_to_end"]:
            name = m["name"]
            pv = [p["end_to_end"][name] for p, _ in pairs]
            cv = [c["end_to_end"][name] for _, c in pairs]
            v, wins, n = verdict(pv, cv, m["better"], m["bound"])
            p1, pm, p3 = quartiles(pv)
            c1, cm, c3 = quartiles(cv)
            print(f"  {name:16s} parent {pm:10.4g} [{p1:.4g}, {p3:.4g}]  change {cm:10.4g} "
                  f"[{c1:.4g}, {c3:.4g}]  {(cm - pm) / pm if pm else 0:+7.1%}  "
                  f"wins {wins}/{n}  {v}", file=out)
        pt = [r["per_layer"] for r in parent if r["workload"] == w and r["trace"]]
        ct = [r["per_layer"] for r in change if r["workload"] == w and r["trace"]]
        if pt and ct:
            print("  per layer (traced runs)", file=out)
            for k in pt[0]:
                a = statistics.median(r[k] for r in pt)
                b = statistics.median(r[k] for r in ct)
                print(f"    {k:24s} {a:12.5g} -> {b:12.5g}  {b - a:+12.5g}", file=out)


def summary(results_file, out=sys.stdout):
    """Median and quartiles of every metric, per workload, of one result set;
    per-layer values from its traced runs."""
    recs = load(results_file)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        ws = json.load(fh)
    res = {}
    for w in sorted({r["workload"] for r in recs}):
        untraced = [r for r in recs if r["workload"] == w and not r["trace"]]
        traced = [r for r in recs if r["workload"] == w and r["trace"]]
        entry = {"why": ws[w]["why"], "queries": len(ws[w]["queries"]), "runs": len(untraced),
                 "seeds": [r["seed"] for r in untraced], "traced_runs": len(traced),
                 "tail": sorted({(r["tail_percentile"], r["tail_samples"]) for r in untraced}),
                 "end_to_end": {}, "per_layer": {}}
        for key, rs in (("end_to_end", untraced), ("per_layer", traced)):
            for k in (rs[0][key] if rs else {}):
                q1, med, q3 = quartiles([r[key][k] for r in rs])
                entry[key][k] = {"median": med, "q1": q1, "q3": q3,
                                 "spread": (q3 - q1) / med if med else 0.0}
        res[w] = entry
    json.dump(res, out, indent=1)
    out.write("\n")


def run_side(tree, workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=tree, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"compare: run failed in {tree}:\n{r.stderr[-2000:]}")
    return json.loads(lines[-2])["detail"]


def run(args):
    seconds = spec()["run_seconds"]
    os.makedirs(args.out, exist_ok=True)
    files = {side: open(os.path.join(args.out, f"{side}.jsonl"), "a") for side in ("parent", "change")}
    trees = {"parent": args.parent, "change": args.change}
    for i in range(args.pairs + 1):
        trace = int(i == args.pairs)  # the last pair is the traced one
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            rec = run_side(trees[side], args.workload, args.first_seed + i, seconds, trace)
            files[side].write(json.dumps(rec) + "\n")
            files[side].flush()
    for fh in files.values():
        fh.close()


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("parent")
    p.add_argument("change")
    s = sub.add_parser("summary")
    s.add_argument("results")
    a = ap.parse_args()
    if a.cmd == "run":
        run(a)
    elif a.cmd == "report":
        report(a.parent, a.change)
    else:
        summary(a.results)


if __name__ == "__main__":
    main()
