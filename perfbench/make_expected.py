#!/usr/bin/env python3
"""Regenerate perfbench/expected.tsv, the expected (hash, rows) per gate.

    python3 perfbench/make_expected.py

Run from the root of a graft checkout. Dumps every workload gate's output at
each scale (perfbench.Expect), compares each dump with its DuckDB oracle
(tools/check_oracle.py), and keeps only the hashes of gates whose output
passed. Exits non-zero if any gate failed its oracle.
"""
import os
import subprocess
import sys

import run

SCALES = ("sf0.001", "sf0.01", "sf0.1")


def main():
    cp = run.build()
    out = os.path.join(run.BUILD, "expect")
    data = os.path.join(run.HERE, "data")
    run.run_jvm(cp, "perfbench.Expect", [data, out, ",".join(SCALES)],
                timeout=3600)
    passed = set()
    for sf in SCALES:
        p = subprocess.run(
            [sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
             os.path.join(data, sf), os.path.join(out, sf)],
            capture_output=True, text=True)
        sys.stderr.write(p.stdout)
        passed |= {(sf, l.split()[1]) for l in p.stdout.splitlines()
                   if l.startswith("PASS ")}
    rows, failed = [], []
    with open(os.path.join(out, "hashes.tsv")) as f:
        for line in f:
            sf, gate, _, _ = line.rstrip("\n").split("\t")
            (rows if (sf, gate) in passed else failed).append(line)
    with open(os.path.join(run.HERE, "expected.tsv"), "w") as f:
        f.write("# scale\tgate\txor of xxhash64(struct(*))\trows\n"
                "# generated by make_expected.py; only oracle-passing "
                "outputs\n")
        f.writelines(rows)
    if failed:
        sys.exit(f"oracle failed, left out: {''.join(failed)}")


if __name__ == "__main__":
    main()
