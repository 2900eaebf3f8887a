#!/usr/bin/env python3
"""Lint: each shared idiom has one home under src/main/scala.

graft's oracle contract is bitwise agreement with DuckDB, and two
conventions carry most of it, both in graft.ops.Parity:

  - the 60-bit md5 key: Spark `conv(substring(md5(x),1,15),16,10)` ==
    DuckDB `CAST('0x' || substring(md5(x),1,15) AS BIGINT)`. Build it
    with Parity.md5Key (Columns), Parity.md5KeyExpr (Spark SQL text:
    expr(...) strings, higher-order lambdas) or Parity.md5KeySql
    (DuckDB oracle text);
  - exact integer half-up division: Parity.halfUpDiv / halfUpE6 /
    halfUpRatioE6 / signedHalfUpE6Dec, and Parity.r4 for the 4 dp
    output rounding.

Two more idioms have one home each:

  - the global running sum: graft.ops.PrefixSum.running owns the
    chunk-offset cumsum `Window.orderBy(col("chunk"))`;
  - the conf scope: graft.Session.scoped owns `newSession(`, and no
    operator under src/main/scala/graft/ops sets or unsets a session
    conf (`conf.set(` / `conf.unset(`).

A hand-written copy can drift from its twin one character at a time,
so this lint fails on any such site outside its home. Test sources
keep independent driver-side references on purpose and are not
scanned.

Usage: python3 tools/lint_parity.py   (from the repo root)
Exit 1 if any site is found.
"""
import re
import subprocess
import sys

PARITY = "src/main/scala/graft/ops/Parity.scala"

# (pattern, the one file allowed to hold it or None, scanned prefix, fix)
RULES = [
    # Spark side of the md5 key, Column DSL or SQL text
    (re.compile(r"conv\(\s*substring\(\s*md5\(", re.IGNORECASE), PARITY,
     "src/main/scala", "Parity.md5Key / md5KeyExpr"),
    # DuckDB side of the md5 key
    (re.compile(r"'0x'\s*\|\|\s*substring\(\s*md5\(", re.IGNORECASE), PARITY,
     "src/main/scala", "Parity.md5KeySql"),
    # local copies of the shared arithmetic
    (re.compile(r"\bdef\s+halfUp\s*\("), PARITY,
     "src/main/scala", "Parity.halfUpDiv"),
    (re.compile(r"\bdef\s+r4\s*\("), PARITY,
     "src/main/scala", "Parity.r4"),
    # the offset-table cumsum of a two-phase running sum
    (re.compile(r"Window\s*\.\s*orderBy\(\s*col\(\s*\"chunk\"\s*\)"),
     "src/main/scala/graft/ops/PrefixSum.scala",
     "src/main/scala", "PrefixSum.running"),
    # session-conf mutation inside an operator
    (re.compile(r"conf\s*\.\s*(set|unset)\("), None,
     "src/main/scala/graft/ops/", "Session.scoped"),
    # a hand-built session scope
    (re.compile(r"newSession\("), "src/main/scala/graft/Session.scala",
     "src/main/scala", "Session.scoped"),
]


def main():
    out = subprocess.run(
        ["git", "grep", "-n", "--untracked", "-E",
         r"md5|def +halfUp|def +r4|chunk|conf|newSession",
         "--", "src/main/scala"],
        capture_output=True, text=True, cwd=".").stdout
    hits = []
    for line in out.splitlines():
        path = line.split(":", 1)[0]
        for pat, home, scope, fix in RULES:
            if path != home and path.startswith(scope) and pat.search(line):
                hits.append(f"{line}   (use {fix})")
    if hits:
        print(f"{len(hits)} sites outside their one home:")
        for h in hits:
            print(f"  FAIL: {h}")
        sys.exit(1)
    print("lint_parity: md5 keys, half-up arithmetic, the running-sum "
          "offset window and conf scopes each stay in their one home")


if __name__ == "__main__":
    main()
