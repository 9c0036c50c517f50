#!/usr/bin/env python3
"""Self-test of the benchmark: runs every workload at a tiny size, untraced
and traced, and checks that

  * each run completes with every output check holding;
  * every named metric of the workload is printed with its unit, and the
    result line carries exactly the metrics BENCHMARK.json names;
  * a deliberately corrupted expectation (--corrupt: one model value or
    expected count flipped per check) is caught as a failed operation.

Run from the repository root: python3 perfbench/selftest.py
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

ALL = ["setup_s", "error_rate", "heap_live_mb", "ops_per_s", "read_ms_p50", "read_ms_p90"]
SNAP = ["checkpoint_commit_ms_p50", "append_ms_p50"]
END_TO_END = {
    "tlc_batch": ALL + ["batch_rows_per_s"],
    "table_dml": ALL + SNAP + ["merge_ms_p50", "delete_ms_p50", "delete_mor_ms_p50",
                               "update_ms_p50", "space_amp"],
    "log_scale": ALL + SNAP,
}
STAGE = ["wall_ms", "spark_jobs", "tasks", "driver_ms", "sched_wait_ms", "shuffle_mb", "spill_mb"]
KIND = ["wall_ms", "spark_jobs", "driver_ms", "files_added", "bytes_written", "log_bytes"]
WORKLOAD_LAYER = ["jvm.gc_ms", "heap.sampled_peak_mb"]
PER_LAYER = {
    "tlc_batch": [f"{s}.{m}" for s in ("etl", "marts", "ml.score", "jobs.export", "serve.report", "ml.train")
                  for m in STAGE] + ["etl.rows_kept_ratio", "marts.curated_scans"] + WORKLOAD_LAYER,
    "table_dml": [f"snapshots.{k}.{m}" for k in ("append", "merge", "delete", "delete_mor", "update",
                                                 "checkpoint", "optimize") for m in KIND]
                 + ["sources.plan_ms", "sources.scan_ms", "sources.spark_jobs", "skipping.files_read_ratio",
                    "snapshots.time_travel_ms", "changefeed.read_ms"] + WORKLOAD_LAYER,
    "log_scale": [f"snapshots.{k}.{m}" for k in ("append", "checkpoint") for m in KIND if m != "bytes_written"]
                 + ["snapshots.resolve_cold_ms", "snapshots.resolve_warm_ms", "skipping.prune_ms",
                    "sources.plan_ms", "sources.plan_files", "snapshots.time_travel_ms"] + WORKLOAD_LAYER,
}
LINE = re.compile(r"^\s+([A-Za-z0-9_.]+) = (\S+) (\S+)$")


def run(workload, trace, corrupt=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--tiny"] + (["--corrupt"] if corrupt else [])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd[1:])} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.rstrip("\n").split("\n")
    printed = {m.group(1): m.group(3) for m in map(LINE.match, lines) if m}
    return printed, json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = []

    def check(cond, msg):
        print(("ok   " if cond else "FAIL ") + msg)
        if not cond:
            failures.append(msg)

    for w in END_TO_END:
        for trace, wanted, listed in ((0, END_TO_END[w], bench["end_to_end"]),
                                      (1, PER_LAYER[w], bench["per_layer"])):
            printed, result = run(w, trace)
            tag = f"{w} trace={trace}"
            check(result["correct"] and result["failed"] == 0 and result["attempted"] > 0,
                  f"{tag}: all {result['attempted']} ops checked out")
            missing = [m for m in wanted if m not in printed]
            check(not missing, f"{tag}: every named metric printed with a unit"
                  + (f" (missing {missing})" if missing else ""))
            names = [m["name"] for m in listed]
            check(sorted(result["metrics"]) == sorted(names)
                  and all(result["metrics"][m["name"]]["unit"] == m["unit"] for m in listed),
                  f"{tag}: result line carries exactly the BENCHMARK.json metrics and units")
        _, bad = run(w, 0, corrupt=True)
        check(not bad["correct"] and bad["failed"] > 0,
              f"{w}: corrupted expectations caught ({bad['failed']}/{bad['attempted']} ops failed)")

    print(f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
