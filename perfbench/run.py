#!/usr/bin/env python3
"""Full-result benchmark of upflowspark: one command, one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), runs the workload
in one JVM with a single closed-loop client, checks every result it
produced, and prints the environment, a metric table and, as the last
line, one JSON object {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, and the spans are written next to the result.
Raw results go to $CARGO_TARGET_DIR/results (default .bench_build).
See perfbench/README.md for the workloads and metric definitions.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import trace_report  # noqa: E402

DATA = "perfbench/data/sf0.01"
EXPECTED = "perfbench/expected.json"
# Untimed passes over the workload before the first timed repetition;
# they are part of set-up.
WARMUP = 3
# A run, after the build, must end within 180 s.
JAVA_TIMEOUT_S = 170

# Query lists are sized so that one warm repetition takes a few seconds
# on a 4-core host, and chosen so that each keeps the layer mix of its
# whole query family; see README.md for the figures.
WORKLOADS = {
    "tpch_sql": {
        "queries": ["t_q03", "t_q05", "t_q06"],
        "order": "seeded", "sink": "digest", "release_each_rep": False,
        "oracle_check": True,
    },
    "llm_pipeline_cold": {
        "queries": ["h_minhash_lsh_dedup", "h_ann_nprobe_curve", "h_cosine_topk"],
        "order": "pipeline", "sink": "digest", "release_each_rep": True,
        "oracle_check": False,
    },
    "etl_batch_write": {
        "queries": ["e_win_rank", "e_win_lag_lead", "e_cdc_merge",
                    "g_session_30m", "d_agg_boxplot"],
        "order": "seeded", "sink": "parquet", "release_each_rep": False,
        "oracle_check": False,
    },
}

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def heap_size():
    """Half the host memory in GiB, clamped to 2..4 GiB. The heap is
    fixed (-Xms = -Xmx): a heap that grows during the run made
    repetitions 10-20 % faster as it grew, well after the warm-up."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(4, max(2, g))}g"


def query_order(workload, seed):
    w = WORKLOADS[workload]
    qs = list(w["queries"])
    if w["order"] == "seeded":
        random.Random(seed).shuffle(qs)
    return qs


def percentile(xs, p):
    """Linear-interpolated percentile, p in [0, 100]."""
    s = sorted(xs)
    if not s:
        return float("nan")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def git_commit(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_java(root, classpath, args, jvm_flags, deadline):
    heap = heap_size()
    cmd = ["java", f"-Xmx{heap}", f"-Xms{heap}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={args['work']}/jvm-tmp",
           "-Dspark.ui.enabled=false", *jvm_flags]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.PerfBench"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    os.makedirs(f"{args['work']}/jvm-tmp", exist_ok=True)
    log = open(os.path.join(args["work"], "driver.log"), "w")
    p = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        rc = "timeout"
    finally:
        log.close()
    if rc != 0:
        with open(os.path.join(args["work"], "driver.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"driver failed: {rc}")


def oracle_check(root, work, queries, deadline):
    """Value-exact DuckDB comparison through tools/parity.py.
    Returns the set of queries that did not pass."""
    r = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "parity.py"),
         os.path.join(root, DATA), os.path.join(work, "dump"), *queries],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=max(1.0, deadline - time.time()))
    passed = {l.split()[1] for l in r.stdout.splitlines() if l.startswith("PASS ")}
    bad = set(queries) - passed
    if bad:
        sys.stderr.write(r.stdout[-4000:])
    return bad


def check(execs, expected, oracle_bad):
    """Mark each query execution ok/failed: against the recorded digest,
    or, for a result dumped for the oracle, against the oracle check."""
    for e in execs:
        want = expected.get(e["name"])
        if e["dumped"]:
            e["ok"] = not e["error"] and e["name"] not in oracle_bad
        else:
            e["ok"] = (not e["error"] and want is not None
                       and e["rows"] == want["rows"] and e["digest"] == want["digest"])


def end_to_end(res):
    reps = [r for r in res["reps"] if not r["traced"]]
    qt = [q["t_s"] for r in reps for q in r["queries"]]
    return {
        "setup_s": (res["setup_s"], "s"),
        "workload_s": (statistics.median(r["wall_s"] for r in reps), "s"),
        "query_p50_s": (percentile(qt, 50), "s"),
        "query_p90_s": (percentile(qt, 90), "s"),
        "retained_storage_mb": (statistics.median(r["retained_mb"] for r in reps), "MB"),
    }, len(qt)


def main(argv=None, jvm_flags=()):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    for need in ("src/main/scala", DATA, EXPECTED, "tools/parity.py"):
        if not os.path.exists(os.path.join(root, need)):
            raise SystemExit(f"missing {need}: run from the repository root")

    classpath, code_digest = build.build(root)
    w = WORKLOADS[a.workload]
    order = query_order(a.workload, a.seed)
    bdir = build.build_dir(root)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(bdir, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "raw.json")
    deadline = time.time() + JAVA_TIMEOUT_S
    try:
        run_java(root, classpath, {
            "data": os.path.join(root, DATA), "queries": ",".join(order),
            "sink": w["sink"], "release-each-rep": int(w["release_each_rep"]),
            "seconds": a.seconds, "trace": a.trace, "warmup": WARMUP,
            "work": work, "out": out,
            "dump": int(w["oracle_check"]),
        }, list(jvm_flags), deadline)
        with open(out) as f:
            res = json.load(f)
        with open(os.path.join(root, EXPECTED)) as f:
            expected = json.load(f)[os.path.basename(DATA)]
        execs = res["warmup"] + [q for r in res["reps"] for q in r["queries"]]
        oracle_bad = oracle_check(root, work, order, deadline) if w["oracle_check"] else set()
        check(execs, expected, oracle_bad)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    bad = [e for e in execs if not e["ok"]]
    attempted, failed = len(execs), len(bad)
    res["run"] = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "queries": order, "warmup": WARMUP,
        "sink": w["sink"], "release_each_rep": w["release_each_rep"],
        "data": DATA, "heap": heap_size(), "code_digest": code_digest[:16],
        "git_commit": git_commit(root), "oracle_failed": sorted(oracle_bad),
        "attempted": attempted, "failed": failed,
        "fail_ratio": failed / attempted if attempted else 1.0,
    }
    env = dict(res["env"], **{k: res["run"][k] for k in (
        "workload", "seed", "queries", "heap", "code_digest", "git_commit")})
    print("env " + json.dumps(env, sort_keys=True))
    for e in bad[:10]:
        print(f"FAILED {e['name']}: {e['error'] or 'digest mismatch'}"
              f" rows={e['rows']} digest={e['digest']}")

    if a.trace:
        layers = trace_report.layer_metrics(res)
        metrics = {k: (v, trace_report.UNITS[k]) for k, v in layers.items()}
        n = None
    else:
        metrics, n = end_to_end(res)
    for k, (v, u) in metrics.items():
        print(f"{k:28s} {v:14.6f} {u}")
    print(f"{'fail_ratio':28s} {res['run']['fail_ratio']:14.6f} ratio"
          f"  ({failed} failed of {attempted} executions"
          + (f"; {n} timed query samples)" if n is not None else ")"))

    rdir = os.path.join(bdir, "results")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f"{tag}.json"), "w") as f:
        json.dump(res, f)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
