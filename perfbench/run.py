#!/usr/bin/env python3
"""Lakehouse benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run compiles the engine
(src/main/scala) and the harness (perfbench/src) with the Scala compiler
that ships with the Spark jars named in build.sbt; the classes are cached
under .bench_build/ by content hash. The inputs are the project's sf0.01
test tables, kept under perfbench/data/. Each run gets a fresh working
directory (warehouse, Spark scratch, temp files) under .bench_build/ that is
deleted when the run ends.

The JVM side (perfbench/src/graft/perfbench/Main.scala) sets up once from a
cold start (JVM launch, session, query registry, fixtures), runs one untimed
warm-up pass that checks every query's result fingerprint against
perfbench/golden.tsv, and then times whole passes over the workload's query
list, each query from the call through materialization into Spark's noop
sink. This script turns its raw samples into the metrics
that BENCHMARK.json lists: the end_to_end ones with --trace 0, the per_layer
ones with --trace 1. The last line of stdout is the JSON result.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
GOLDEN = os.path.join(HERE, "golden.tsv")

# The input tables the golden fingerprints hold for: the project's seed-42
# test data at sf0.01.
SF = 0.01
DATA = os.path.join(HERE, "data", f"sf{SF}")
# JVM heap, -Xms = -Xmx. Not the tier-1 test command's SPARK_DRIVER_MEM (half
# of physical memory clamped to 2..8 GiB) but its floor: with 7 GiB, G1's young
# generation keeps touching fresh memory through a whole run (VmHWM 3.4-4.1 GB
# against 2.4-2.6 GB) and runs were noisier (perfbench/METRICS.md, Session).
HEAP = "2g"
# A run must end within 180 s after its build; the first run's build may
# take up to 900 s.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600

# Spark 4 on JDK 17 needs these outside spark-submit (as build.sbt sets them).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def read(path):
    with open(path) as f:
        return f.read()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- statistics

def percentile(values, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def quartile_spread(values):
    """Distance between the first and third quartile as a share of the
    median, with quartiles as statistics.quantiles(values, n=4) gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


# ---------------------------------------------------------------- build

def jar_dir():
    """The Spark jar directory build.sbt compiles against (unmanagedBase)."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BenchError("build.sbt not found: run from the root of a source checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', read(sbt))
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(d, "spark-sql_*.jar")):
        raise BenchError(f"no Spark jars in {d}")
    return d


def sources(pattern):
    return sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True))


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(jars, out, classpath, files):
    compiler = [os.path.join(jars, f) for f in os.listdir(jars)
                if re.match(r"scala-(compiler|library|reflect)-.*\.jar$", f)]
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx3g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_LIMIT_S)
    os.remove(argfile)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])


def compiled(name, files, classpath, key, jars):
    """Classes of `files` under .bench_build, compiled once per `key`."""
    out = os.path.join(BUILD, f"{name}-{key}")
    if not os.path.isfile(out + ".ok"):
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.time()
        log(f"compiling {len(files)} {name} sources")
        scalac(jars, out, classpath, files)
        open(out + ".ok", "w").close()
        log(f"compiled {name} in {time.time() - t0:.1f} s")
    return out


def build():
    """Compiles engine and harness unless a build of the same sources exists;
    returns the run classpath."""
    jars = jar_dir()
    main_src = sources("src/main/scala/**/*.scala")
    bench_src = sources("perfbench/src/**/*.scala")
    if not main_src:
        raise BenchError("no engine sources under src/main/scala")
    jar_list = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    main_key = digest(main_src, jar_list)
    main_out = compiled("engine", main_src, jar_list, main_key, jars)
    bench_out = compiled("harness", bench_src, main_out + ":" + jar_list,
                         digest(bench_src, main_key), jars)
    return ":".join([bench_out, main_out, os.path.join(jars, "*")])


# ---------------------------------------------------------------- run

def cores():
    return len(os.sched_getaffinity(0))


def duckdb_version():
    try:
        import duckdb
        return duckdb.__version__
    except ImportError:
        return "absent"


def steal_s():
    """CPU time the hypervisor gave to other guests since boot, all CPUs.
    A run whose steal grew is one the host slowed down."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return r.stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def run_jvm(classpath, args, workdir, limit_s):
    """Runs the harness; passes it the launch time so that set-up is timed
    from before the JVM starts."""
    os.makedirs(os.path.join(workdir, "tmp"))
    # -UsePerfData: no hsperfdata file in the system temp directory.
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss16m",
            f"-Djava.io.tmpdir={workdir}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main"] + args)
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=os.path.join(workdir, "warehouse"),
               SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"))
    with open(os.path.join(workdir, "jvm.err"), "w") as err:
        cmd += ["--launch-ms", str(int(time.time() * 1000))]
        proc = subprocess.Popen(cmd, cwd=workdir, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=limit_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"harness did not finish within {limit_s:.0f} s")
    err_log = read(os.path.join(workdir, "jvm.err"))
    for line in err_log.splitlines(keepends=True):
        if "[perfbench]" in line:
            sys.stderr.write(line)
    result = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not result:
        raise BenchError(f"harness exited with {proc.returncode}:\n{err_log[-3000:]}")
    return json.loads(result[-1][len("PERFBENCH_RESULT "):])


def query_latencies(samples):
    """Each query's latency in a run: the median over its timed samples."""
    by_query = {}
    for s in samples:
        by_query.setdefault(s["query"], []).append(s["s"])
    return [statistics.median(v) for v in by_query.values()]


def end_to_end(raw):
    timed = [s for s in raw["samples"] if not s["traced"]]
    passes = [p["s"] for p in raw["passes"] if not p["traced"]]
    if not timed:
        raise BenchError("no query completed in the timed passes")
    # Percentiles over queries, not over pooled samples: with a few queries
    # a pooled percentile falls between two of them and averages the slowest
    # sample of one with the fastest of the other.
    latencies = query_latencies(timed)
    return {
        "pass_s": statistics.median(passes),
        "query_p50_s": percentile(latencies, 50),
        "query_p90_s": percentile(latencies, 90),
        "stored_bytes_ratio": raw["warehouse_bytes"] / raw["input_bytes"],
        # JVM launch through the end of the warm-up pass.
        "setup_s": raw["setup"]["total_s"],
    }, {"query samples": len(timed), "queries": len(latencies), "passes": len(passes)}


def per_layer(raw):
    traced = [p["s"] for p in raw["passes"] if p["traced"]]
    untraced = [p["s"] for p in raw["passes"] if not p["traced"]]
    layers = dict(raw["layers"])
    layers["session.start_s"] = raw["setup"]["session_s"]
    layers["registry.init_s"] = raw["setup"]["registry_s"]
    layers["fixtures.build_s"] = raw["setup"]["fixtures_s"]
    layers["warmup.pass_s"] = raw["setup"]["warmup_s"]
    layers["jvm.rss_peak_mb"] = raw["vm_hwm_kb"] / 1024.0
    layers["trace.traced_pass_s"] = statistics.median(traced)
    layers["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(untraced)
    return layers, {"traced passes": len(traced), "untraced passes": len(untraced)}


def main(argv):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    spec = json.loads(read(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise BenchError(f"unknown workload {a.workload}")
    classpath = build()
    t_start = time.time()
    steal0 = steal_s()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        args = ["--mode", "run", "--workload", a.workload,
                "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", DATA,
                "--work", os.path.join(run_dir, "work"), "--golden", GOLDEN,
                "--cores", str(cores())]
        limit = RUN_LIMIT_S - (time.time() - t_start)
        raw = run_jvm(classpath, args, run_dir, max(limit, 30))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.trace:
        values, counts = per_layer(raw)
        wanted = spec["per_layer"]
    else:
        values, counts = end_to_end(raw)
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    failures = raw["failures"]
    stamp = dict(raw["stamp"], nproc=os.cpu_count(), xms=HEAP, xmx=HEAP,
                 host_steal_s=round(steal_s() - steal0, 2),
                 duckdb=duckdb_version(), sf=SF,
                 workload=a.workload, seed=a.seed, seconds=a.seconds,
                 source_digest=digest(sources("src/main/scala/**/*.scala")),
                 commit=git_commit())
    print("stamp " + json.dumps(stamp, sort_keys=True))
    print(f"queries ({len(raw['queries'])}, seed {a.seed}): " + ",".join(raw["queries"]))
    for f in failures:
        print(f"FAILED {f['query']} (pass {f['pass']}): {f['reason']}")
    print("samples: " + ", ".join(f"{k} {v}" for k, v in counts.items()))
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    result = {"correct": not failures, "attempted": raw["attempted"],
              "failed": len(failures), "metrics": metrics}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    artifact = os.path.join(BUILD, "results",
                            f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(artifact, "w") as f:
        json.dump({"stamp": stamp, "result": result, "raw": raw}, f)
    print(json.dumps(result))


if __name__ == "__main__":
    try:
        main(sys.argv[1:])
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
