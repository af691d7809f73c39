#!/usr/bin/env python3
"""Exact-count check for the closed-loop workload, `star_query`. Run from
the repository root:

    python3 perfbench/repeat_check.py --seed 1 --seed2 2

Runs the traced benchmark twice with `--seed` and once with `--seed2`. Within
one seed the op sequence is the same, so each op's `spark.jobs`, `lake.fs_*`,
`lake.files_written` and `lake.commits` must repeat exactly; any count that
differs is printed and the exit code is 1. The `--seed2` run is reported
beside them so a claim can be checked on a seed it was not written against.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

RUNS = os.path.join(".perfbench", "runs")


WORKLOAD = "star_query"


def traced_run(seed, seconds, tag):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", WORKLOAD,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    src = os.path.join(RUNS, f"{WORKLOAD}-seed{seed}-trace1.json")
    dst = os.path.join(RUNS, f"{WORKLOAD}-seed{seed}-repeat{tag}.json")
    shutil.copy(src, dst)
    with open(dst) as fh:
        return [o for o in json.load(fh)["ops"] if o["window"] == "traced"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seed2", type=int, default=2)
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args()
    a = traced_run(args.seed, args.seconds, "a")
    b = traced_run(args.seed, args.seconds, "b")
    c = traced_run(args.seed2, args.seconds, "c")
    differ = 0
    for x, y in zip(a, b):
        assert x["name"] == y["name"], "one seed must give one op sequence"
        for k, v in x["counts"].items():
            if k != "process_cpu_s" and y["counts"].get(k) != v:
                differ += 1
                print(f"DIFFERS op {x['id']} {x['name']} {k}: {v} vs {y['counts'].get(k)}")
    n = min(len(a), len(b))
    print(f"seed {args.seed}: {n} ops compared, {differ} counts differ")
    totals = {}
    for o in c:
        for k, v in o["counts"].items():
            totals[k] = totals.get(k, 0) + v
    print(f"seed {args.seed2}: {len(c)} ops, count totals {json.dumps(totals, sort_keys=True)}")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
