#!/usr/bin/env python3
"""Record the expected result digests the benchmark checks against.

Usage: python3 perfbench/record.py      (from the repository root)

For each workload it runs the driver with three warm-up passes: the
first pass dumps each result as parquet in the layout tools/parity.py
reads; the other two passes and the one timed repetition use the
workload's own sink. A query
is recorded only if those three give the same row count and digest and,
where the query has an oracle, the DuckDB comparison passes. Writes
perfbench/expected.json; exits non-zero if any query could not be
recorded. Queries without an oracle are marked "oracle": false.
"""
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def main():
    root = os.getcwd()
    classpath, _ = build.build(root)
    recorded, bad = {}, []
    for name, w in run.WORKLOADS.items():
        work = os.path.join(build.build_dir(root), "work", f"record-{name}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        qs = w["queries"]
        run.run_java(root, classpath, {
            "data": os.path.join(root, run.DATA), "queries": ",".join(qs),
            "sink": w["sink"], "release-each-rep": int(w["release_each_rep"]),
            "seconds": 0, "trace": 0, "warmup": 3, "work": work,
            "out": os.path.join(work, "raw.json"), "dump": 1,
        }, [], time.time() + 900)
        with open(os.path.join(work, "raw.json")) as f:
            res = json.load(f)
        with open(os.path.join(work, "dump", "oracle_sql.json")) as f:
            has_oracle = set(json.load(f))
        failed = run.oracle_check(root, work, sorted(has_oracle), time.time() + 3600)
        for q in qs:
            runs = [e for e in res["warmup"] + [x for r in res["reps"] for x in r["queries"]]
                    if e["name"] == q and not e["dumped"]]
            keys = {(e["rows"], e["digest"]) for e in runs}
            if any(e["error"] for e in runs) or len(keys) != 1 or q in failed:
                bad.append(q)
                print(f"NOT RECORDED {q}: {[e['error'] for e in runs]} {keys}")
                continue
            rows, dig = keys.pop()
            recorded[q] = {"rows": rows, "digest": dig, "oracle": q in has_oracle}
            print(f"recorded {q}: rows={rows} digest={dig} oracle={q in has_oracle}")
        shutil.rmtree(work, ignore_errors=True)
    path = os.path.join(root, run.EXPECTED)
    with open(path, "w") as f:
        json.dump({os.path.basename(run.DATA): recorded}, f, indent=1, sort_keys=True)
        f.write("\n")
    if bad:
        raise SystemExit(f"not recorded: {bad}")


if __name__ == "__main__":
    main()
