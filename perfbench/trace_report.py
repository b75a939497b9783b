#!/usr/bin/env python3
"""Per-layer report from the spans of traced benchmark runs.

Usage: python3 perfbench/trace_report.py RESULT.json [RESULT.json ...]

Each RESULT.json is a raw result that `perfbench/run.py --trace 1` left in
$CARGO_TARGET_DIR/results. For every workload it prints the per-layer
metrics, each span kind's total and self time (its duration minus the
part its child spans cover), for each query the part of its wall time
that no child span covers and the part no Spark job covers, and the
tracing overhead (traced minus untraced repetition wall time).

Span tree: workload -> repetition -> query -> {construct, plan, action}
-> Spark job -> Spark stage. A job's parent is the phase span named by
its job group; a stage's parent is the first job that listed it.
"""
import collections
import json
import statistics
import sys

MB = 1048576.0

UNITS = {
    "io.views_ms": "ms", "io.input_mb": "MB", "io.input_rows": "count",
    "ops.construct_ms": "ms", "ops.construct_jobs": "count",
    "ops.persisted_rdds_delta": "count", "ops.persisted_mb_delta": "MB",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms", "plans.exchanges": "count",
    "plans.scan_nodes": "count", "plans.joins": "count",
    "plans.shuffle_joins": "count",
    "functions.codegen_compiles": "count", "functions.codegen_ms": "ms",
    "exec.action_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.retried_tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.fetch_wait_ms": "ms", "exec.spill_mb": "MB",
    "exec.busy_ratio": "ratio",
    "sink.rows": "count", "sink.written_mb": "MB", "sink.files": "count",
    "trace.overhead_s": "s", "trace.no_job_share": "ratio",
}


def covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of the given intervals."""
    total, cur = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= cur:
            continue
        total += e - max(s, cur)
        cur = e
    return total


def span_tree(res):
    """All spans (benchmark and Spark) as dicts with id, parent, kind."""
    tr = res["trace"]
    spans = list(tr["spans"])
    jobs = tr["spark"]["jobs"]
    job_ids = {}
    for j in jobs:
        if not j["group"] or j["end"] <= 0:
            continue
        jid = f"job-{j['id']}"
        job_ids[j["id"]] = jid
        spans.append({"id": jid, "parent": j["group"], "kind": "job",
                      "name": j["id"], "start": j["start"], "end": j["end"]})
    for s in tr["spark"]["stages"]:
        if s["job"] in job_ids and s["end"] > 0:
            spans.append({"id": f"stage-{s['id']}", "parent": job_ids[s["job"]],
                          "kind": "stage", "name": s["id"],
                          "start": s["start"], "end": s["end"]})
    return spans


def self_times(spans):
    """Per span id: (duration ms, self ms)."""
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"],
                      s["end"] - s["start"] - covered(s["start"], s["end"], kids[s["id"]]))
            for s in spans}


def traced_reps(res):
    return [r for r in res["reps"] if r["traced"]]


def query_jobs(res):
    """Query span id -> [(start, end)] of the Spark jobs it ran."""
    out = collections.defaultdict(list)
    for j in res["trace"]["spark"]["jobs"]:
        if j["group"] and j["end"] > 0:
            out[j["group"].split("|")[0]].append((j["start"], j["end"]))
    return out


def no_job_ms(span, jobs):
    """Part of a query span's wall time during which none of its jobs ran."""
    d = span["end"] - span["start"]
    return d - covered(span["start"], span["end"], jobs.get(span["id"], []))


def rep_stages(res, rep):
    """Spark stages (and jobs) run by one repetition's queries."""
    qspans = {q["span"] for q in rep["queries"]}
    sp = res["trace"]["spark"]
    jobs = [j for j in sp["jobs"] if j["group"].split("|")[0] in qspans]
    ids = {j["id"] for j in jobs}
    return jobs, [s for s in sp["stages"] if s["job"] in ids]


def layer_metrics(res):
    """Per-layer metrics: median over traced repetitions of per-repetition
    totals, plus the tracing overhead."""
    cores = res["env"]["cores"]
    per = collections.defaultdict(list)
    by_id = {s["id"]: s for s in res["trace"]["spans"]}
    qjobs = query_jobs(res)
    for r in traced_reps(res):
        qs = r["queries"]
        jobs, stages = rep_stages(res, r)
        run_s = sum(s["run_ms"] for s in stages) / 1e3
        qsp = [by_id[q["span"]] for q in qs if q["span"] in by_id]
        qdur = sum(s["end"] - s["start"] for s in qsp)
        qidle = sum(no_job_ms(s, qjobs) for s in qsp)
        v = {
            "io.views_ms": r["io_views_ms"],
            "io.input_mb": sum(s["input_b"] for s in stages) / MB,
            "io.input_rows": sum(s["input_rows"] for s in stages),
            "ops.construct_ms": sum(q["construct_ms"] for q in qs),
            "ops.construct_jobs": sum(1 for j in jobs if j["group"].endswith("|construct")),
            "ops.persisted_rdds_delta": r["persisted_rdds_after"] - r["persisted_rdds_before"],
            "ops.persisted_mb_delta": r["persisted_mb_after"] - r["persisted_mb_before"],
            "plans.analysis_ms": sum(q["phases_ms"].get("analysis", 0.0) for q in qs),
            "plans.optimization_ms": sum(q["phases_ms"].get("optimization", 0.0) for q in qs),
            "plans.planning_ms": sum(q["phases_ms"].get("planning", 0.0) for q in qs),
            "plans.exchanges": sum(q["plan_census"].get("exchanges", 0) for q in qs),
            "plans.scan_nodes": sum(q["plan_census"].get("scan_nodes", 0) for q in qs),
            "plans.joins": sum(q["plan_census"].get("joins", 0) for q in qs),
            "plans.shuffle_joins": sum(q["plan_census"].get("shuffle_joins", 0) for q in qs),
            "functions.codegen_compiles": sum(q["codegen_compiles"] for q in qs),
            "functions.codegen_ms": sum(q["codegen_ms"] for q in qs),
            "exec.action_ms": sum(q["action_ms"] for q in qs),
            "exec.jobs": len(jobs),
            "exec.stages": len(stages),
            "exec.tasks": sum(s["tasks"] for s in stages),
            "exec.retried_tasks": sum(s["retried_tasks"] for s in stages),
            "exec.task_run_s": run_s,
            "exec.task_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
            "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
            "exec.shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / MB,
            "exec.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / MB,
            "exec.fetch_wait_ms": sum(s["fetch_wait_ms"] for s in stages),
            "exec.spill_mb": sum(s["spill_b"] for s in stages) / MB,
            "exec.busy_ratio": run_s / (r["wall_s"] * cores),
            "sink.rows": sum(q["rows"] for q in qs),
            "sink.written_mb": sum(q["sink_bytes"] for q in qs) / MB,
            "sink.files": sum(q["sink_files"] for q in qs),
            "trace.no_job_share": qidle / qdur if qdur > 0 else 0.0,
        }
        for k, x in v.items():
            per[k].append(x)
    out = {k: float(statistics.median(per[k])) for k in UNITS if k in per}
    walls = [(r["traced"], r["wall_s"]) for r in res["reps"]]
    out["trace.overhead_s"] = (statistics.median(w for t, w in walls if t)
                               - statistics.median(w for t, w in walls if not t))
    return out


def report(res):
    run = res["run"]
    print(f"== {run['workload']} seed={run['seed']} "
          f"traced reps={len(traced_reps(res))}")
    for k, v in layer_metrics(res).items():
        print(f"  {k:28s} {v:14.4f} {UNITS[k]}")
    spans = span_tree(res)
    st = self_times(spans)
    reps = {r["span"] for r in traced_reps(res)}
    qids = {q["span"] for r in traced_reps(res) for q in r["queries"]}
    by_id = {s["id"]: s for s in spans}

    def in_reps(s):
        while s is not None:
            if s["id"] in reps:
                return True
            s = by_id.get(s["parent"])
        return False

    tot = collections.defaultdict(lambda: [0.0, 0.0, 0])
    for s in spans:
        if s["kind"] in ("workload", "io_views") or in_reps(s):
            t = tot[s["kind"]]
            t[0] += st[s["id"]][0]
            t[1] += st[s["id"]][1]
            t[2] += 1
    print("  span kind        count     total_ms      self_ms")
    for k in ("workload", "io_views", "repetition", "query", "construct", "plan",
              "action", "job", "stage"):
        if k in tot:
            n, (d, sf, c) = k, tot[k]
            print(f"  {n:14s} {c:7d} {d:12.1f} {sf:12.1f}")
    print("  per query, median over traced reps: wall, part no child span"
          " covers, part no Spark job covers")
    qjobs = query_jobs(res)
    unc = collections.defaultdict(list)
    for s in spans:
        if s["id"] in qids:
            d, sf = st[s["id"]]
            unc[s["name"]].append((d, sf, no_job_ms(s, qjobs)))
    for name, xs in sorted(unc.items()):
        d, sf, nj = (statistics.median(x[i] for x in xs) for i in range(3))
        print(f"    {name:28s} {d:9.1f} ms  uncovered {sf:7.1f} ms"
              f"  no job {nj:7.1f} ms ({nj / d if d else 0:.0%})")


def main(paths):
    if not paths:
        raise SystemExit(__doc__)
    for p in paths:
        with open(p) as f:
            res = json.load(f)
        if not res.get("trace"):
            print(f"{p}: not a traced run (use --trace 1)")
            continue
        report(res)


if __name__ == "__main__":
    main(sys.argv[1:])
