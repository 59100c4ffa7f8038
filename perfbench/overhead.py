#!/usr/bin/env python3
"""Tracing overhead: one untraced and one traced run of a workload with the
same seed, and the difference of their end-to-end figures.

    python3 perfbench/overhead.py --workload warehouse_build --seed 1 [--seconds 10]
"""
import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def report(workload, seed, seconds, trace):
    out = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", str(trace)],
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    line = next(l for l in out.splitlines() if l.startswith("REPORT "))
    return json.loads(line[len("REPORT "):])["end_to_end"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    a = ap.parse_args()
    off = report(a.workload, a.seed, a.seconds, 0)
    on = report(a.workload, a.seed, a.seconds, 1)
    for k, v in off.items():
        d = on[k]["value"] - v["value"]
        share = d / v["value"] if v["value"] else float("nan")
        print(f"{k:14s} untraced {v['value']:12.4f} traced {on[k]['value']:12.4f} "
              f"overhead {d:+12.4f} {v['unit']} ({share:+.1%})")


if __name__ == "__main__":
    main()
