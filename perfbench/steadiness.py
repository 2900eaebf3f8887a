#!/usr/bin/env python3
"""Steadiness check: runs every workload under several seeds and reports,
for each end-to-end metric, its median and its quartile spread (distance
between the first and third quartile over the median) against the metric's
bound in BENCHMARK.json.

    python3 perfbench/steadiness.py [--seeds 10] [--first-seed 1] [--workload NAME]

Run from the root of a source checkout. Exits 1 if a run fails its output
check or if a metric other than setup_s spreads by more than its bound, the
acceptance test for the benchmark; a spread above a third of the bound, the
steadiness the benchmark aims at, is marked but does not fail. Also prints
the wall time of each run, the figure that decides how many runs fit a time
budget.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from run import quartile_spread  # noqa: E402


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args(argv)
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    ok = True
    for w in workloads:
        values, walls = {}, []
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            t0 = time.time()
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"], stdout=subprocess.PIPE, text=True, check=True).stdout
            walls.append(time.time() - t0)
            lines = out.strip().splitlines()
            result = json.loads(lines[-1])
            stamp = json.loads(next(l for l in lines if l.startswith("stamp "))[6:])
            ok &= result["correct"]
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f} s wall, correct={result['correct']}, "
                  f"host steal {stamp['host_steal_s']:.1f} s, "
                  + ", ".join(f"{k} {m['value']:.4g}" for k, m in result["metrics"].items()),
                  file=sys.stderr, flush=True)
        print(f"\n{w}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        for m in spec["end_to_end"]:
            v = values[m["name"]]
            spread = quartile_spread(v)
            checked = m["name"] != "setup_s"
            flag = ("  <-- above bound" if checked and spread > m["bound"] else
                    "  (above bound/3)" if checked and spread >= m["bound"] / 3 else "")
            print(f"  {m['name']:<20} median {statistics.median(v):<12.5g} spread {spread:7.2%}"
                  f"  bound {m['bound']:.0%}{flag}")
            ok &= not (checked and spread > m["bound"])
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main(sys.argv[1:])
