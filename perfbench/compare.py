#!/usr/bin/env python3
"""Fresh-vs-fresh comparison of two sets of benchmark runs.

    python3 perfbench/compare.py BASE CANDIDATE [--bounds BENCHMARK.json]

BASE and CANDIDATE are directories (or single files) of run records written
by `perfbench/run.py --record`. Both sides must be fresh runs of the same
benchmark code; records whose `cpus` differ are refused (exit 3).

For every workload and end-to-end metric it prints each side's median and
quartiles and a verdict:
  regressed   the candidate median is worse than the base median by more
              than the metric's bound
  unresolved  the base's own spread (quartile distance / median) is wider
              than the bound, and not every candidate run beats every base run
  ok          otherwise
Exit status 1 when any metric regressed, else 0.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    recs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace") == 0 and "e2e" in r:
            recs.append(r)
    return recs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    ap = argparse.ArgumentParser(description="fresh-vs-fresh benchmark comparison")
    ap.add_argument("base")
    ap.add_argument("candidate")
    ap.add_argument("--bounds", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.bounds) as f:
        spec = json.load(f)
    metrics = [(m["name"], m["better"], m["bound"]) for m in spec["end_to_end"]]
    base, cand = load(a.base), load(a.candidate)
    if not base or not cand:
        print("compare: no untraced run records on one side")
        return 2
    cpus = {r["env"]["cpus"] for r in base + cand}
    if len(cpus) != 1:
        print("compare: refusing to compare records with different cpus: %s" % sorted(cpus))
        return 3
    regressed = False
    workloads = sorted({r["workload"] for r in base} & {r["workload"] for r in cand})
    print("cpus=%d  base: %d runs  candidate: %d runs" % (cpus.pop(), len(base), len(cand)))
    for w in workloads:
        b = [r for r in base if r["workload"] == w]
        c = [r for r in cand if r["workload"] == w]
        print("\n%s  (base %d runs, candidate %d runs)" % (w, len(b), len(c)))
        for name, better, bound in metrics:
            bv = [r["e2e"][name]["value"] for r in b]
            cv = [r["e2e"][name]["value"] for r in c]
            bq1, bm, bq3 = quartiles(bv)
            cq1, cm, cq3 = quartiles(cv)
            worse = (cm - bm) / bm if better == "lower" else (bm - cm) / bm
            spread = (bq3 - bq1) / bm
            beats = (max(cv) < min(bv)) if better == "lower" else (min(cv) > max(bv))
            if worse > bound:
                verdict = "REGRESSED"
                regressed = True
            elif spread > bound and not beats:
                verdict = "unresolved"
            else:
                verdict = "ok"
            print("  %-12s base %9.4g [%9.4g %9.4g]  cand %9.4g [%9.4g %9.4g]  "
                  "worse by %+6.1f%% (bound %4.1f%%, base spread %4.1f%%)  %s" % (
                      name, bm, bq1, bq3, cm, cq1, cq3, 100 * worse, 100 * bound,
                      100 * spread, verdict))
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
