#!/usr/bin/env python3
"""Repeats benchmark workloads over several seeds and reports how steady
each end-to-end metric is.

Usage (from the repository root):
    python3 perfbench/stability.py [--workloads a,b] [--seeds 1-10] [--trace 0|1]

For every workload and metric it prints the median, the first and third
quartiles (statistics.quantiles(values, n=4)), the spread (Q3 - Q1) as a
share of the median, and the metric's bound from BENCHMARK.json. It also
prints the share of failed operations per run, the wall time of one run
with the machine's busy and stolen CPU shares while it ran,
and the projected wall time of one full comparison (4 + 22 runs per
workload). The bounds in BENCHMARK.json are set from this output.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpu_ticks():
    """Host CPU counters (user, nice, system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workloads", default=",".join(names))
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = p.parse_args()

    walls = []
    for w in a.workloads.split(","):
        values, failed_share = {}, []
        for seed in seeds(a.seeds):
            t0, c0 = time.time(), cpu_ticks()
            r = subprocess.run(bench["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            walls.append(time.time() - t0)
            d = [b - a for a, b in zip(c0, cpu_ticks())]
            busy = "busy %.2f steal %.2f" % (1 - (d[3] + d[4]) / sum(d), d[7] / sum(d))
            if r.returncode != 0:
                sys.exit("%s seed %d: exit code %d" % (w, seed, r.returncode))
            res = json.loads(r.stdout.strip().split("\n")[-1])
            failed_share.append(res["failed"] / res["attempted"])
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print("%s seed %d (%.0f s, %s): correct=%s attempted=%d failed=%d %s" % (
                w, seed, walls[-1], busy, res["correct"], res["attempted"], res["failed"],
                " ".join("%s=%.4g" % (k, m["value"]) for k, m in res["metrics"].items())),
                flush=True)
        print("\n%s: failed share per run %s" % (w, sorted(set(failed_share))))
        print("%-28s %12s %12s %12s %8s %6s" % ("metric", "median", "q1", "q3", "spread", "bound"))
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else float("nan")
            bound = bounds.get(k)
            print("%-28s %12.5g %12.5g %12.5g %8.3f %6s%s" % (
                k, med, q1, q3, spread, bound if bound is not None else "-",
                "" if bound is None or k == "setup_s" or spread < bound / 3 else "  <- above bound/3"))
        print(flush=True)
    mean = sum(walls) / len(walls)
    runs = 4 + 22 * len(bench["workloads"])
    print("mean run wall time %.1f s; one comparison (%d runs) ~%.0f s" % (mean, runs, runs * mean))


if __name__ == "__main__":
    main()
