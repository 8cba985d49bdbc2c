#!/usr/bin/env python3
"""Measure the per-gate time split the workloads' gate subsets are chosen by.

    python3 perfbench/probe.py interactive|corpus

Run from the root of a graft checkout. Times every gate of the workload's
query modules (perfbench.Probe: warm-up at the smaller scale, then four
passes at the timed scale) and prints the per-gate table, then the
build/plan/exec shares of all the gates and of the workload's subset.
Takes about 3 minutes for interactive and 6 for corpus on 4 cores.
"""
import os
import re
import sys

import run

MODULES = {
    "interactive": ("sf0.01", "sf0.001",
                    "Relational,Aggregates,Scalar,Strings,EventAnalytics,Analytics"),
    "corpus": ("sf0.1", "sf0.01", "TextPipeline,Corpus,Similarity"),
}


def subset(workload):
    """The workload's gate list, read from Gates.scala."""
    with open(os.path.join(run.HERE, "src", "main", "scala", "perfbench",
                           "Gates.scala")) as f:
        text = f.read()
    m = re.search(r'Workload\("%s",[^)]*?Seq\(([^)]*)\)' % workload, text)
    return re.findall(r'"(q\w+)"', m.group(1))


def main():
    workload = sys.argv[1]
    sf, warm, mods = MODULES[workload]
    lines = run.run_jvm(run.build(), "perfbench.Probe",
                        [os.path.join(run.HERE, "data"), sf, warm, "4", mods],
                        timeout=3000)
    rows = {}
    for line in lines:
        print(line)
        f = line.split("\t")
        if f[0] != "gate" and f[1] != "FAILED":
            rows[f[0]] = [float(x) for x in f[1:4]]

    def split(gates):
        t = [sum(rows[g][i] for g in gates) for i in range(3)]
        return " ".join(f"{x / sum(t):.3f}" for x in t) + \
            f"  mean call {sum(t) / len(gates):.3f} s"

    print(f"build plan exec shares, all {len(rows)} gates: {split(rows)}")
    mine = [g for g in subset(workload) if g in rows]
    print(f"build plan exec shares, subset of {len(mine)}: {split(mine)}")
    for name, gates in (("all", rows), ("subset", mine)):
        ann = sum(rows[g][0] for g in gates if g.startswith("q_sim_"))
        if not ann:
            continue
        print(f"q_sim_* share of build time, {name}: "
              f"{ann / sum(rows[g][0] for g in gates):.3f}")


if __name__ == "__main__":
    main()
