#!/usr/bin/env python3
"""Which count metrics repeat exactly?

    python3 perfbench/repeat_check.py [--seed 1] [--seconds 8] [workload ...]

Runs the traced benchmark twice per workload on one seed and lists every
count metric (unit `count`) whose two values differ. Only the metrics that
repeat may be cited as exact counts when comparing two versions of the
engine.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

COUNTS = [k for k, u in run.PER_LAYER if u == "count"]


def traced(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "1"],
                       stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(r.stdout.strip().splitlines()[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("workloads", nargs="*", default=list(run.WORKLOADS))
    a = ap.parse_args()
    for w in a.workloads:
        one, two = traced(w, a.seed, a.seconds), traced(w, a.seed, a.seconds)
        differ = {k: (one[k]["value"], two[k]["value"]) for k in COUNTS
                  if one[k]["value"] != two[k]["value"]}
        same = [k for k in COUNTS if k not in differ and one[k]["value"]]
        print(json.dumps({"workload": w, "seed": a.seed, "differ": differ,
                          "repeat_nonzero": same}))


if __name__ == "__main__":
    main()
