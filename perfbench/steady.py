#!/usr/bin/env python3
"""Run a workload over several seeds and report each metric's spread.

    python3 perfbench/steady.py --workload n2k_import --seeds 1-10 --out DIR [--trace 0]

Runs `perfbench/run.py` once per seed (run length from BENCHMARK.json),
keeps every run record in DIR, and prints for each metric the median and
the spread: the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median, next to the
metric's bound. A spread above a third of the bound is marked.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description="seed-to-seed spread of a workload")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    os.makedirs(a.out, exist_ok=True)
    values = {}
    for s in seeds(a.seeds):
        rec = os.path.join(a.out, "%s-s%d-t%d.json" % (a.workload, s, a.trace))
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                            "--trace", str(a.trace), "--record", rec],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        res = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None
        if res is None or not res["correct"]:
            print("seed %d: run failed or incorrect: %s" % (s, res))
            continue
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print("seed %d: %s" % (s, "  ".join("%s=%.4g" % (k, m["value"]) for k, m in res["metrics"].items()
                                            if k in bounds or a.trace)), flush=True)
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, _, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        mark = " <-- above a third of the bound" if b is not None and spread > b / 3 else ""
        print("%-28s median %10.4g  spread %6.2f%%%s%s" % (
            k, med, 100 * spread, "  (bound %.0f%%)" % (100 * b) if b is not None else "", mark))


if __name__ == "__main__":
    main()
