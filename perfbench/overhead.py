#!/usr/bin/env python3
"""Tracing overhead: run a workload untraced and traced on the same seeds
and compare the medians of its end-to-end metrics.

    python3 perfbench/overhead.py --workload serve --seeds 1,2,3 [--seconds 10]

Runs alternate untraced and traced per seed. Prints, per metric, the
untraced and traced medians and (traced - untraced) / untraced.
"""
import argparse
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
LINE = re.compile(r"^\[graftbench\] (\w+) (\S+) = (\S+) (\S+) \(n=(\d+)\)$")


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", trace],
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"overhead: {workload} seed {seed} trace {trace} exited "
                 f"{p.returncode}\n{p.stdout[-2000:]}")
    return {m.group(2): float(m.group(3))
            for m in map(LINE.match, p.stdout.splitlines()) if m}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    off, on = {}, {}
    for seed in map(int, a.seeds.split(",")):
        for trace, into in (("0", off), ("1", on)):
            for k, v in run(a.workload, seed, a.seconds, trace).items():
                into.setdefault(k, []).append(v)
    print(f"{'metric':<20} {'untraced':>12} {'traced':>12} {'overhead':>9}")
    for k in off:
        if k in on:
            u, t = statistics.median(off[k]), statistics.median(on[k])
            rel = f"{(t - u) / u:+.1%}" if u else "-"
            print(f"{k:<20} {u:>12.4f} {t:>12.4f} {rel:>9}")


if __name__ == "__main__":
    main()
