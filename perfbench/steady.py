#!/usr/bin/env python3
"""Steadiness of the end-to-end metrics: runs one workload in two sets
of runs, each run with its own seed, and prints per metric each set's
median and quartiles, the spread (quartile distance over the median)
and how far the second set's median moved from the first's, beside the
bound BENCHMARK.json gives the metric. These are the figures the bounds
rest on (README.md records them).

    python3 perfbench/steady.py --workload lake_move

Run it from the root of a checkout. It makes SETS sets of RUNS runs;
seeds are 1000*set + run, so two invocations run the same inputs.
"""

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

RUNS = 10
SETS = 2


def one_run(workload, seed, seconds):
    t = time.time()
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", "0"], capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        sys.exit("run failed: %s seed %d" % (workload, seed))
    out = json.loads(r.stdout.strip().splitlines()[-1])
    out["wall_s"] = time.time() - t
    steal = re.search(r"steal ([0-9.]+) %", r.stderr)
    out["steal_pct"] = float(steal.group(1)) if steal else None
    return out


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    sets = []
    for s in range(SETS):
        runs = [one_run(args.workload, 1000 * (s + 1) + i, bench["run_seconds"])
                for i in range(RUNS)]
        sets.append(runs)
    report = {"workload": args.workload, "sets": []}
    print("%-12s %4s %10s %10s %10s %8s %8s" % (
        "metric", "set", "median", "q1", "q3", "spread", "bound"))
    medians = {}
    for k, runs in enumerate(sets):
        entry = {"failed_share": [r["failed"] / r["attempted"] for r in runs],
                 "wall_s": [r["wall_s"] for r in runs],
                 "steal_pct": [r["steal_pct"] for r in runs], "metrics": {}}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            medians.setdefault(m["name"], []).append(med)
            entry["metrics"][m["name"]] = {"values": vals, "median": med,
                                           "q1": q1, "q3": q3, "spread": spread}
            print("%-12s %4d %10.4f %10.4f %10.4f %7.1f%% %7.0f%%" % (
                m["name"], k + 1, med, q1, q3, 100 * spread, 100 * m["bound"]))
        report["sets"].append(entry)
    for m in bench["end_to_end"]:
        meds = medians[m["name"]]
        for k in range(1, len(meds)):
            print("%-12s median moved %+.1f%% from set 1 to set %d (bound %.0f%%)" % (
                m["name"], 100 * (meds[k] / meds[0] - 1), k + 1, 100 * m["bound"]))
    shares = [sorted(set(e["failed_share"])) for e in report["sets"]]
    print("failed share per set:", shares)
    print("host steal % per run:", [[round(x, 1) for x in e["steal_pct"] if x is not None]
                                     for e in report["sets"]])
    print("run wall time s (min/median/max):", [
        (round(min(e["wall_s"]), 1), round(statistics.median(e["wall_s"]), 1),
         round(max(e["wall_s"]), 1)) for e in report["sets"]])
    out = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       "steady-%s.json" % args.workload)
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print("written", out)


if __name__ == "__main__":
    main()
