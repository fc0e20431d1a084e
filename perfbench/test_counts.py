#!/usr/bin/env python3
"""Tests of the benchmark itself: the seed changes inputs, not counts.

For each workload: two traced runs with one seed must report identical
job, driver file-system call and files-opened counts, and a run with a
second seed must pass every output check. Takes several minutes.

    python3 perfbench/test_counts.py [workload ...]
"""
import json
import subprocess
import sys

COUNTS = ["spark.jobs_per_op", "lake.files_opened_per_read"] + [
    f"fs.driver.{k}.{s}" for s in ("per_commit", "per_read") for k in
    ("exists", "getFileStatus", "listStatus", "open", "create", "rename",
     "delete", "mkdirs")]


def traced(workload, seed):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", "12", "--trace", "1"],
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
        raise AssertionError(f"{workload} seed {seed}: run failed ({p.returncode})")
    r = json.loads(lines[-1])
    assert r["correct"] and r["failed"] == 0, f"{workload} seed {seed}: checks failed"
    return {k: r["metrics"][k]["value"] for k in COUNTS}


def main():
    workloads = sys.argv[1:] or ["lake_etl", "lake_lookup", "query_suite"]
    bad = []
    for w in workloads:
        a, b = traced(w, 11), traced(w, 11)
        diff = {k: (a[k], b[k]) for k in COUNTS if a[k] != b[k]}
        print(f"{w}: same seed twice -> {'identical counts' if not diff else diff}")
        if diff:
            bad.append(w)
        traced(w, 12)
        print(f"{w}: second seed runs clean")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
