#!/usr/bin/env python3
"""Determinism self-check: every count metric must repeat exactly.

    python3 perfbench/check_determinism.py [--seed 1] [--seconds 10]

Runs each workload's traced run twice with the same seed (from the
repository root, like run.py) and compares the count metrics: Spark jobs
and tasks, rows and bytes scanned, files, stored bytes per row, and the
skip-unchanged kept ratio. Times are not compared. Exits non-zero if any
count differs, so later changes can cite these counts as evidence.

`bytes_per_row` and `disk_bytes_per_row` include the `run_series` files,
whose `first_seen` column is the program's wall-clock time at each write:
their compressed size can differ by a byte or so between runs. These two
must agree within 1e-4; `values_bytes_per_row` (the live snapshot alone)
must repeat exactly.
"""
import argparse
import json
import os
import subprocess
import sys

import run

COUNTS = [
    "series_store.rows_scanned_per_row_returned",
    "series_store.bytes_scanned_per_read",
    "series_store.files_per_read",
    "series_store.files_live",
    "series_store.manifest_versions",
    "series_store.files_per_append",
    "series_store.compact_bytes_rewritten",
    "series_store.values_bytes_per_row",
    "write_pipeline.skip_rows_read_per_row_offered",
    "write_pipeline.skip_kept_ratio",
    "spark.jobs_per_write",
    "spark.jobs_per_skip_write",
    "spark.jobs_per_read",
    "spark.tasks_per_op",
]
NEAR = ["bytes_per_row", "series_store.disk_bytes_per_row"]


def traced(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload}: run failed ({p.returncode}):\n{p.stdout}{p.stderr}")
    lines = p.stdout.strip().splitlines()
    metrics = {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}
    # bytes_per_row comes from the report lines, printed exactly.
    for line in lines:
        if line.strip().startswith("bytes_per_row = "):
            metrics["bytes_per_row"] = float(line.split("=")[1].split()[0])
    return metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    bad = 0
    for w in run.WORKLOADS:
        a, b = traced(w, args.seed, args.seconds), traced(w, args.seed, args.seconds)
        for k in COUNTS:
            same = a[k] == b[k]
            bad += not same
            print(f"{'same' if same else 'DIFFERS'}  {w}  {k}  {a[k]!r}" + ("" if same else f" vs {b[k]!r}"))
        for k in NEAR:
            near = abs(a[k] - b[k]) <= 1e-4 * abs(a[k])
            bad += not near
            print(f"{'near' if near else 'DIFFERS'}  {w}  {k}  {a[k]!r} vs {b[k]!r}")
    print(f"{bad} count metric(s) differ")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
