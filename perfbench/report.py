#!/usr/bin/env python3
"""Per-layer report: rolls the benchmark's runs up into one table per workload.

    python3 perfbench/report.py [--run] [--seed 1] [--seconds 10]

With --run, first runs perfbench/run.py on every workload of BENCHMARK.json,
untraced (--trace 0) and traced (--trace 1), with the given seed. Then reads
the newest result of each (workload, trace) pair from
.bench_build/perfbench/results/ and prints, per workload: the end-to-end
metrics, every per-layer metric, the self time of each layer, the share of
query time spent in construction and in execution, and the tracing overhead
(the traced pass against the untraced passes around it in the same run).
Run from the root of a source checkout.
"""
import argparse
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(os.getcwd(), ".bench_build", "perfbench", "results")


def newest(workload, trace):
    paths = glob.glob(os.path.join(RESULTS, f"{workload}-seed*-trace{trace}.json"))
    if not paths:
        return None
    with open(max(paths, key=os.path.getmtime)) as f:
        return json.load(f)


def value(doc, name):
    m = doc["result"]["metrics"].get(name) if doc else None
    return m["value"] if m else None


def fmt(v):
    return "-" if v is None else f"{v:.4g}"


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--run", action="store_true")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args(argv)
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    if a.run:
        seconds = a.seconds or spec["run_seconds"]
        for w in workloads:
            for trace in (0, 1):
                subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w, "--seed", str(a.seed),
                                "--seconds", str(seconds), "--trace", str(trace)],
                               check=True, stdout=subprocess.DEVNULL)
    runs = {w: (newest(w, 0), newest(w, 1)) for w in workloads}
    rows = [(m["name"], m["unit"], 0) for m in spec["end_to_end"]]
    rows += [(m["name"], m["unit"], 1) for m in spec["per_layer"]
             if not m["name"].startswith("module.")]
    width = max(len(r[0]) for r in rows) + 2
    print("metric".ljust(width) + "unit".ljust(8)
          + "".join(w[:16].rjust(18) for w in workloads))
    for name, unit, trace in rows:
        vals = [value(runs[w][trace], name) for w in workloads]
        print(name.ljust(width) + unit.ljust(8) + "".join(fmt(v).rjust(18) for v in vals))

    print("\nshares of traced query time per pass (self time = span minus the "
          "jobs inside it)")
    for w in workloads:
        t = runs[w][1]
        if not t:
            print(f"  {w}: no traced run")
            continue
        def v(n): return value(t, n) or 0.0
        total = v("construct.s") + v("exec.s") + v("self.query_s")
        if total <= 0:
            continue
        jobs = v("construct.s") - v("self.construct_s") + v("exec.s") - v("self.materialize_s")
        print(f"  {w}: construct {v('construct.s') / total:.0%} "
              f"(self {v('self.construct_s') / total:.0%}), "
              f"materialize {v('exec.s') / total:.0%} "
              f"(self {v('self.materialize_s') / total:.0%}), "
              f"inside jobs {jobs / total:.0%} (no task running {v('self.jobs_s') / total:.0%}), "
              f"catalyst {(v('catalyst.analysis_s') + v('catalyst.optimization_s') + v('catalyst.planning_s')) / total:.0%}")
        modules = sorted(((m["name"][7:-2], v(m["name"])) for m in spec["per_layer"]
                          if m["name"].startswith("module.") and v(m["name"]) > 0),
                         key=lambda kv: -kv[1])
        print("    modules: " + ", ".join(f"{k} {x:.3g} s" for k, x in modules))
        print(f"    tracing overhead: {v('trace.overhead_ratio') - 1:+.1%} "
              f"(traced pass {v('trace.traced_pass_s'):.3g} s against the untraced "
              f"passes around it)")


if __name__ == "__main__":
    main(sys.argv[1:])
