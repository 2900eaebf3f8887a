#!/usr/bin/env python3
"""Validates perfbench/golden.tsv against the DuckDB oracle.

    python3 perfbench/validate_golden.py [--write]

Run from the root of a source checkout. On the benchmark's own input tables
it (1) dumps every golden query with graft.Verify and checks the dump with
`tools/check_oracle.py --strict-types --bitwise`, then (2) records fresh
fingerprints with the harness and compares them with golden.tsv. With
--write, a fingerprint set that passed (1) replaces golden.tsv; use it
after changing the inputs or adding a query to a workload.
"""
import argparse
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def golden_queries(path):
    return [l.split("\t")[0] for l in run.read(path).splitlines()
            if l.strip() and not l.startswith("#")]


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--write", action="store_true")
    a = ap.parse_args(argv)
    classpath = run.build()
    queries = golden_queries(run.GOLDEN)
    work = tempfile.mkdtemp(dir=run.BUILD)
    try:
        sf_dir = run.DATA
        opens = [x for p in run.ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(queries),
                   SPARK_GRAFT_CPUS=str(run.cores()),
                   SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"))
        dump = os.path.join(work, "dump")
        subprocess.run(["java", f"-Xmx{run.HEAP}", *opens,
                        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
                        "-cp", classpath, "graft.Verify", sf_dir, dump],
                       env=env, cwd=work, check=True)
        oracle = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
                                 "--strict-types", "--bitwise", sf_dir, dump, *queries])
        fresh = os.path.join(work, "golden.tsv")
        raw = run.run_jvm(classpath, [
            "--mode", "record", "--queries", ",".join(queries), "--seconds", "0",
            "--data", sf_dir, "--work", os.path.join(work, "harness"), "--golden", fresh,
            "--cores", str(run.cores())], os.path.join(work, "jvm"), 900)
        same = run.read(fresh) == run.read(run.GOLDEN)
        print(f"oracle: {'pass' if oracle.returncode == 0 else 'FAIL'}; "
              f"fingerprints {'match' if same else 'DIFFER from'} golden.tsv; "
              f"{len(raw['failures'])} harness failures")
        if a.write and oracle.returncode == 0 and not raw["failures"]:
            shutil.copy(fresh, run.GOLDEN)
            print("golden.tsv rewritten")
        sys.exit(0 if oracle.returncode == 0 and (same or a.write) else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1:])
