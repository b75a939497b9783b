#!/usr/bin/env python3
"""Compare two sets of benchmark runs: parent commit vs change.

Usage: python3 perfbench/compare.py PARENT_RESULTS_DIR CHANGE_RESULTS_DIR

Each directory holds the raw results `perfbench/run.py --trace 0` writes
to $CARGO_TARGET_DIR/results (one file per workload and seed; copy them
out between runs). Runs pair up by workload and seed. For every workload
and end-to-end metric it prints each side's median and quartiles, the
pairs the change won (ties count for neither side) and a verdict, or
"too few pairs" when fewer than ten seeds ran on both sides:

  gain        the change wins >= 9/10 of the pairs and the medians differ
              by more than the parent's own quartile spread;
  regression  the change's median is worse than the parent's by more
              than the metric's bound in BENCHMARK.json;
  unresolved  the parent's own spread is wider than the bound and not
              every change run beats every parent run;
  no change   otherwise.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

# No verdict from fewer (workload, seed) pairs than this.
MIN_PAIRS = 10


def load(d):
    """{(workload, seed): {metric: value}} for the untraced runs in d."""
    out = {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            res = json.load(f)
        r = res.get("run", {})
        if r.get("trace") != 0:
            continue
        m, _ = run.end_to_end(res)
        out[(r["workload"], r["seed"])] = {k: v for k, (v, _) in m.items()}
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(par, chg, bound, lower_better):
    sign = 1.0 if lower_better else -1.0
    won = sum(1 for p, c in zip(par, chg) if sign * (p - c) > 0)
    lost = sum(1 for p, c in zip(par, chg) if sign * (c - p) > 0)
    pq1, pm, pq3 = quartiles(par)
    _, cm, _ = quartiles(chg)
    spread = pq3 - pq1
    worse = sign * (cm - pm)
    if len(par) < MIN_PAIRS:
        v = "too few pairs"
    elif won >= 0.9 * len(par) and abs(cm - pm) > spread and worse < 0:
        v = "gain"
    elif pm and worse > bound * abs(pm):
        v = "regression"
    elif pm and spread > bound * abs(pm) and not (
            max(sign * c for c in chg) < min(sign * p for p in par)):
        v = "unresolved"
    else:
        v = "no change"
    return won, lost, v


def main(argv):
    if len(argv) != 2:
        raise SystemExit(__doc__)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    par, chg = load(argv[0]), load(argv[1])
    keys = sorted(set(par) & set(chg))
    if not keys:
        raise SystemExit("no (workload, seed) pair present on both sides")
    print(f"{'workload':18s} {'metric':20s} {'n':>3s} {'parent q1/med/q3':>32s}"
          f" {'change q1/med/q3':>32s} {'won':>4s} {'lost':>4s}  verdict")
    for w in sorted({k[0] for k in keys}):
        ks = [k for k in keys if k[0] == w]
        for name, m in spec.items():
            if name not in par[ks[0]]:
                continue
            p = [par[k][name] for k in ks]
            c = [chg[k][name] for k in ks]
            won, lost, v = verdict(p, c, m["bound"], m["better"] == "lower")
            fp = "/".join(f"{x:.4g}" for x in quartiles(p))
            fc = "/".join(f"{x:.4g}" for x in quartiles(c))
            print(f"{w:18s} {name:20s} {len(ks):3d} {fp:>32s} {fc:>32s}"
                  f" {won:4d} {lost:4d}  {v}")


if __name__ == "__main__":
    main(sys.argv[1:])
