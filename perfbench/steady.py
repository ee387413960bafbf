#!/usr/bin/env python3
"""Steadiness mode: runs each workload once per seed and reports every
end-to-end metric's median and quartile spread (Q3 - Q1 over the median,
with Python's statistics.quantiles(n=4)) beside its bound in
BENCHMARK.json. Use it to set and check the bounds.

    python3 perfbench/steady.py --seeds 10 [--workloads daily_dag,corpus_intake]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--out", help="also write the raw results as JSON here")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    raw = {}
    for w in a.workloads.split(","):
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            t0 = time.monotonic()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: run failed with code {p.returncode}", flush=True)
                continue
            r = json.loads(lines[-1])
            runs.append(r)
            vals = " ".join(f"{k}={v['value']:.4f}" for k, v in r["metrics"].items())
            print(f"{w} seed {seed}: {time.monotonic() - t0:.0f} s wall, "
                  f"correct={r['correct']} failed={r['failed']}/{r['attempted']} {vals}",
                  flush=True)
        raw[w] = runs
        if len(runs) < 2:
            continue
        for m, bound in bounds.items():
            vals = [r["metrics"][m]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = "ok" if spread <= bound / 3 else ("within bound" if spread <= bound else "OVER")
            print(f"  {w:14s} {m:12s} median {med:9.4f}  spread {spread:6.3f}  "
                  f"bound {bound:.2f}  {flag}", flush=True)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(raw, fh, indent=1)


if __name__ == "__main__":
    main()
