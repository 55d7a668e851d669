#!/usr/bin/env python3
"""Steadiness of the benchmark: runs every workload N times (default 10),
each time with another seed, alternating the order of the workloads from
round to round, and prints each end-to-end metric's median, quartiles and
spread (interquartile distance as a share of the median) next to its bound
from BENCHMARK.json. Also prints the failed share and the median wall time
of a whole run (build, inputs, JVM and check) per workload.

Usage (from the repository root):
  python3 perfbench/steady.py [--runs 10] [--first-seed 1]
      [--workloads medallion,stream] [--out perfbench/.out/steady.json]
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main():
    bench = json.load(open(f"{ROOT}/BENCHMARK.json"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out", default=f"{HERE}/.out/steady.json")
    a = ap.parse_args()
    names = a.workloads.split(",")
    results = {w: [] for w in names}
    for i in range(a.runs):
        seed = a.first_seed + i
        for w in (names if i % 2 == 0 else names[::-1]):
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", "0"]
            t0 = time.perf_counter()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            run_s = time.perf_counter() - t0
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed} exited {p.returncode}:\n"
                         f"{p.stderr[-2000:]}")
            lines = p.stdout.strip().splitlines()
            last = json.loads(lines[-1])
            host = json.loads(next(l for l in lines
                                   if l.startswith("host: "))[6:])
            last["steal_share"] = host["steal_share"]
            last["run_s"] = run_s
            results[w].append(last)
            print(f"{w} seed {seed} ({run_s:.0f} s, steal "
                  f"{host['steal_share']:.3f}): "
                  + ", ".join(f"{k}={v['value']:.4g}"
                              for k, v in last["metrics"].items()),
                  flush=True)
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(results, f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in names:
        runs = results[w]
        shares = {r["failed"] / r["attempted"] for r in runs}
        steal = stats.median([r["steal_share"] for r in runs])
        run_s = stats.median([r["run_s"] for r in runs])
        print(f"\n{w}: {len(runs)} runs, failed share {sorted(shares)}, "
              f"median host steal {steal:.3f}, median run {run_s:.0f} s")
        print(f"  {'metric':16} {'q1':>10} {'median':>10} {'q3':>10} "
              f"{'spread':>7} {'bound':>6}")
        for m in bounds:
            vals = [r["metrics"][m]["value"] for r in runs]
            q1, q2, q3 = stats.quartiles(vals)
            print(f"  {m:16} {q1:10.4g} {q2:10.4g} {q3:10.4g} "
                  f"{stats.spread(vals):7.3f} {bounds[m]:6.2f}")


if __name__ == "__main__":
    main()
