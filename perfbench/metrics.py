"""Metrics from one harness record (the JSON `perfbench/src/Harness.scala`
writes): end-to-end metrics from the untraced passes, per-layer metrics from
the traced ones, and the spans of each traced query.

Spans: one `query` span per traced query execution, with children `build`
(the registry function builds the frame) and `action` (the terminal write).
`build` has the jobs that ran while building as children; `action` has the
planning phases of its query execution and the jobs of the write. A span's
self time is its duration minus the part of it its children cover.
"""
import statistics

CORES = 4
MB = 1e6


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ((start, end) pairs), clipped to
    [lo, hi] when given. Overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """Duration of `span` minus the part of it covered by `children`."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def percentile(sorted_vals, p):
    """Nearest-rank percentile of an ascending list."""
    k = max(0, -(-len(sorted_vals) * p // 100) - 1)
    return sorted_vals[int(k)]


def tail(vals):
    """(percentile, value): the highest whole percentile with at least ten
    samples beyond it, or (None, None) when there are fewer than 11."""
    n = len(vals)
    if n < 11:
        return None, None
    p = (100 * (n - 10)) // n
    return p, percentile(sorted(vals), p)


def check_outputs(rec, reference):
    """(attempted, failed, details): every query execution, the warm-up pass
    included, must succeed and match the reference row count and digest."""
    failed, details = 0, []
    for e in rec["execs"]:
        ref = reference.get(e["query"])
        why = None
        if not e["ok"]:
            why = "error: " + e["err"]
        elif ref is None:
            why = "no reference digest"
        elif (e["rows"], e["digest"]) != (ref["rows"], ref["digest"]):
            why = f"output {e['rows']} rows / {e['digest']} != reference {ref['rows']} / {ref['digest']}"
        e["correct"] = why is None
        if why:
            failed += 1
            details.append(f"pass {e['pass']} {e['query']}: {why}")
    return len(rec["execs"]), failed, details


def _measured(rec, traced):
    return [e for e in rec["execs"] if e["pass"] > 0 and e["traced"] == traced]


def _per_query_median(execs, key):
    """Median over passes, per query, of `key` ("ms": the query's time) of
    the correct executions."""
    by_q = {}
    for e in execs:
        if e.get("correct", e["ok"]):
            by_q.setdefault(e["query"], []).append(e["t2"] - e["t0"] if key == "ms" else e[key])
    return {q: statistics.median(v) for q, v in by_q.items()}


def end_to_end(rec, setup_s):
    execs = _measured(rec, traced=False)
    med = _per_query_median(execs, "ms")
    passes = [p for p in rec["passes"] if not p["traced"]]
    # the tail uses the first min_passes measured passes only, so its sample
    # count (and so its percentile) does not depend on how many passes fit
    first = {p["pass"] for p in passes[:rec["min_passes"]]}
    samples = [e["t2"] - e["t0"] for e in execs if e["pass"] in first and e.get("correct", e["ok"])]
    p, tail_ms = tail(samples)
    vals = sorted(med.values())
    return {
        "wall_s": (sum(vals) / 1e3, "s"),
        "query_p50_ms": (statistics.median(vals), "ms"),
        "query_tail_ms": (tail_ms, "ms"),
        # the CPU time of the JIT compiler threads, still busy after the
        # warm-up and varying from JVM to JVM, is left out here and reported
        # as jvm.jit_s
        "cpu_s": (statistics.median(p["cpu_s"] - p["jit_s"] for p in passes), "s"),
        "peak_storage_mb": (max(_per_query_median(execs, "storage_bytes").values(), default=0) / MB, "MB"),
        "setup_s": (setup_s, "s"),
    }, {"tail_percentile": p, "tail_samples": len(samples), "passes": len(passes)}


def spans(rec):
    """Spans of the traced query executions, as dicts with id, parent, name,
    pass, query, start and end (epoch ms)."""
    jobs = {}
    for j in rec["jobs"]:
        jobs.setdefault(j["tag"], []).append(j)
    qes = [q for q in rec["qes"] if "analysis" in q]
    out = []

    def add(parent, name, start, end, e):
        out.append({"id": len(out), "parent": parent, "name": name, "pass": e["pass"],
                    "query": e["query"], "start": start, "end": end})
        return len(out) - 1

    for e in rec["execs"]:
        if not e["traced"]:
            continue
        q = add(None, "query", e["t0"], e["t2"], e)
        b = add(q, "build", e["t0"], e["t1"], e)
        a = add(q, "action", e["t1"], e["t2"], e)
        if e["analysis"][0] >= 0:
            add(b, "plan.analysis", e["analysis"][0], e["analysis"][1], e)
        for layer, parent in (("build", b), ("action", a)):
            for j in jobs.get(f"{e['pass']}|{e['query']}|{layer}", []):
                end = j["end"] if j["end"] >= 0 else j["start"]
                add(parent, "job", j["start"], end, e)
        for qe in qes:
            if e["t1"] <= qe["analysis"][0] <= e["t2"]:
                for ph in ("analysis", "optimization", "planning"):
                    if ph in qe:
                        add(a, "plan." + ph, qe[ph][0], qe[ph][1], e)
    return out


def per_layer(rec):
    sp = spans(rec)
    kids = {}
    for s in sp:
        kids.setdefault(s["parent"], []).append(s)
    traced = [p for p in rec["passes"] if p["traced"]]
    untraced = [p for p in rec["passes"] if not p["traced"]]
    n = max(1, len(traced))
    tasks = {}
    for tag, t in rec["tasks"].items():
        parts = tag.split("|")
        layer = parts[2] if len(parts) == 3 else "other"
        acc = tasks.setdefault(layer, {})
        for k, v in t.items():
            acc[k] = acc.get(k, 0) + v

    sums = {k: 0.0 for k in ("build_ms", "build_jobs", "zero_job", "exec_ms", "exec_jobs", "gap_ms",
                             "analysis_ms", "optimization_ms", "planning_ms")}
    for s in sp:
        if s["name"].startswith("plan."):
            sums[s["name"][5:] + "_ms"] += s["end"] - s["start"]
        elif s["name"] == "build":
            js = [c for c in kids.get(s["id"], []) if c["name"] == "job"]
            sums["build_ms"] += s["end"] - s["start"]
            sums["build_jobs"] += len(js)
            sums["zero_job"] += not js
        elif s["name"] == "action":
            ch = kids.get(s["id"], [])
            js = [c for c in ch if c["name"] == "job"]
            plan = [c for c in ch if c["name"].startswith("plan.")]
            plan_cov = union_length([(c["start"], c["end"]) for c in plan], s["start"], s["end"])
            sums["exec_ms"] += union_length([(c["start"], c["end"]) for c in ch], s["start"], s["end"]) - plan_cov
            sums["exec_jobs"] += len(js)
            sums["gap_ms"] += self_time(s, ch)

    def t(layer, key):
        return tasks.get(layer, {}).get(key, 0) / n

    execs = [e for e in rec["execs"] if e["traced"]]
    exec_s = sums["exec_ms"] / 1e3 / n
    batches = sorted(b["trigger_ms"] for b in rec["batches"])
    untraced_wall = statistics.median(p["wall_s"] for p in untraced) if untraced else None
    traced_wall = statistics.median(p["wall_s"] for p in traced) if traced else None
    m = {
        "build.s": (sums["build_ms"] / 1e3 / n, "s"),
        "build.jobs": (sums["build_jobs"] / n, "count"),
        "build.task_s": (t("build", "run_ms") / 1e3, "s"),
        "build.zero_job_queries": (sums["zero_job"] / n, "count"),
        "plan.analysis_s": (sums["analysis_ms"] / 1e3 / n, "s"),
        "plan.optimization_s": (sums["optimization_ms"] / 1e3 / n, "s"),
        "plan.planning_s": (sums["planning_ms"] / 1e3 / n, "s"),
        "exec.s": (exec_s, "s"),
        "exec.jobs": (sums["exec_jobs"] / n, "count"),
        "exec.stages": (t("action", "stages"), "count"),
        "exec.task_s": (t("action", "run_ms") / 1e3, "s"),
        "exec.core_util": (t("action", "run_ms") / 1e3 / (exec_s * CORES) if exec_s else 0.0, "ratio"),
        "exec.driver_gap_s": (sums["gap_ms"] / 1e3 / n, "s"),
        "exec.shuffle_read_mb": (t("action", "shuffle_read") / MB, "MB"),
        "exec.shuffle_write_mb": (t("action", "shuffle_write") / MB, "MB"),
        "exec.spill_mb": (t("action", "spill") / MB, "MB"),
        "exec.input_mb": (t("action", "input") / MB, "MB"),
        "cache.persisted_rdds": (sum(e["persisted"] for e in execs if e["persisted"] > 0) / n, "count"),
        "cache.peak_mb": (max([e["rdd_bytes"] for e in execs] or [0]) / MB, "MB"),
        "cache.leaked_rdds": (sum(e["leaked"] for e in execs if e["leaked"] > 0) / n, "count"),
        "stream.batches": (len(batches) / n, "count"),
        "stream.batch_p50_ms": (percentile(batches, 50) if batches else 0.0, "ms"),
        "stream.batch_p90_ms": (percentile(batches, 90) if batches else 0.0, "ms"),
        "stream.input_rows": (sum(b["rows"] for b in rec["batches"]) / n, "count"),
        "jvm.gc_s": (statistics.median(p["gc_s"] for p in traced) if traced else 0.0, "s"),
        "jvm.jit_s": (statistics.median(p["jit_s"] for p in traced) if traced else 0.0, "s"),
        "trace.overhead_frac": (traced_wall / untraced_wall - 1 if traced_wall and untraced_wall else 0.0, "ratio"),
    }
    return m, sp
