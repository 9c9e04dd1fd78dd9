#!/usr/bin/env python3
"""Tracing overhead: traced minus untraced end-to-end figures.

Usage (from the repository root):

    python3 perfbench/overhead.py --workload <name> --seed <n> [--seconds <s>]

Runs the workload once with --trace 0 and once with --trace 1 on the
same seed and prints, for every end-to-end figure both runs report,
the traced value, the untraced value and their difference.
"""
import argparse
import re
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"
LINE = re.compile(r"^\s{2}(\S+)\s+(-?[\d.]+|NaN)\s+(\S+)\s+n=(\d+)$")


def figures(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", trace],
                       stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"overhead: --trace {trace} run failed with {r.returncode}")
    out = {}
    for line in r.stdout.splitlines():
        m = LINE.match(line)
        if m and m.group(2) != "NaN":
            out[m.group(1)] = (float(m.group(2)), m.group(3))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    plain = figures(a.workload, a.seed, a.seconds, "0")
    traced = figures(a.workload, a.seed, a.seconds, "1")
    print(f"{'figure':34} {'traced':>14} {'untraced':>14} {'overhead':>14}")
    for name, (v, unit) in plain.items():
        if name in traced:
            t = traced[name][0]
            share = f"{(t - v) / v:+.1%}" if v else ""
            print(f"{name:34} {t:14.4f} {v:14.4f} {t - v:+14.4f} {unit} {share}")


if __name__ == "__main__":
    main()
