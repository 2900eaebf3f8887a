#!/usr/bin/env python3
"""Lint: the engine-parity arithmetic has one home, graft.ops.Parity.

graft's oracle contract is bitwise agreement with DuckDB, and two
conventions carry most of it:

  - the 60-bit md5 key: Spark `conv(substring(md5(x),1,15),16,10)` ==
    DuckDB `CAST('0x' || substring(md5(x),1,15) AS BIGINT)`. Build it
    with Parity.md5Key (Columns), Parity.md5KeyExpr (Spark SQL text:
    expr(...) strings, higher-order lambdas) or Parity.md5KeySql
    (DuckDB oracle text);
  - exact integer half-up division: Parity.halfUpDiv / halfUpE6 /
    halfUpRatioE6 / signedHalfUpE6Dec, and Parity.r4 for the 4 dp
    output rounding.

A hand-written copy can drift from its oracle twin one character at a
time, so this lint fails on any inline key or local `halfUp`/`r4`
definition under src/main/scala outside Parity.scala. Test sources
keep independent driver-side references on purpose and are not
scanned.

Usage: python3 tools/lint_parity.py   (from the repo root)
Exit 1 if any site is found.
"""
import re
import subprocess
import sys

HOME = "src/main/scala/graft/ops/Parity.scala"

PATTERNS = [
    # Spark side of the md5 key, Column DSL or SQL text
    re.compile(r"conv\(\s*substring\(\s*md5\(", re.IGNORECASE),
    # DuckDB side of the md5 key
    re.compile(r"'0x'\s*\|\|\s*substring\(\s*md5\(", re.IGNORECASE),
    # local copies of the shared arithmetic
    re.compile(r"\bdef\s+halfUp\s*\("),
    re.compile(r"\bdef\s+r4\s*\("),
]


def main():
    out = subprocess.run(
        ["git", "grep", "-n", "--untracked", "-E",
         r"md5|def +halfUp|def +r4", "--", "src/main/scala"],
        capture_output=True, text=True, cwd=".").stdout
    hits = []
    for line in out.splitlines():
        path = line.split(":", 1)[0]
        if path == HOME:
            continue
        if any(p.search(line) for p in PATTERNS):
            hits.append(line)
    if hits:
        print(f"{len(hits)} inline parity sites — use graft.ops.Parity "
              "(md5Key / md5KeyExpr / md5KeySql, halfUpDiv, r4):")
        for h in hits:
            print(f"  FAIL: {h}")
        sys.exit(1)
    print("lint_parity: no inline md5 keys or local halfUp/r4 outside Parity")


if __name__ == "__main__":
    main()
