#!/usr/bin/env python3
"""Exact-count check: runs a closed-loop workload twice, traced, with the same
seed and a fixed number of epochs, and lists every count-type per-layer
metric (jobs, tasks, shuffle bytes, scan bytes, changelog ops) whose two
values differ. Exit code 1 when any differ.

Run from the repository root:
  python3 e2ebench/exact_counts.py [--workload state_growth|batch_sql] [--seed N] [--epochs K]
"""
import argparse
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

REPORTS = os.path.join(build.BUILD_DIR, "reports", "*.json")
COUNT_SUFFIXES = ("jobs_per_epoch", "tasks_per_epoch", "shuffle_bytes_per_epoch",
                  "shuffle_write_bytes_per_epoch", "scan_bytes_per_epoch",
                  "jobs_per_read", "scan_bytes_per_read", "ops_per_input_row",
                  "queries.scan_bytes")


def traced_run(workload, seed, epochs):
    before = set(glob.glob(REPORTS))
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", "1", "--trace", "1",
                    "--epochs", str(epochs)], check=True, stdout=subprocess.DEVNULL)
    new = sorted(set(glob.glob(REPORTS)) - before, key=os.path.getmtime)
    with open(new[-1]) as f:
        return json.load(f)["per_layer"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="state_growth", choices=("state_growth", "batch_sql"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--epochs", type=int, default=4,
                    help="epochs (state_growth) or query passes (batch_sql) per run")
    a = ap.parse_args()
    runs = [traced_run(a.workload, a.seed, a.epochs) for _ in range(2)]
    counts = sorted(k for k in runs[0] if k.endswith(COUNT_SUFFIXES))
    differ = [(k, runs[0].get(k), runs[1].get(k)) for k in counts if runs[0].get(k) != runs[1].get(k)]
    for k, x, y in differ:
        print(f"DIFFERS {k}: {x} vs {y}")
    print(f"{len(counts) - len(differ)}/{len(counts)} count metrics repeat exactly")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
