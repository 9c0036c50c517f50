#!/usr/bin/env python3
"""Benchmark driver: builds the engine plus the harness once, then runs one
workload in a fresh JVM and prints its report and a final JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload table_dml --seed 1 --seconds 1 --trace 0

Workloads: tlc_batch and table_dml (the two in BENCHMARK.json) and
log_scale (run by hand; see perfbench/README.md). --trace 1 runs one op
cycle with spans and Spark counters and prints per-layer metrics instead of
end-to-end ones. Build outputs, work tables and traces stay under
.bench_build/ in the repository root.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # nothing written next to the sources
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = build.OUT
WORKLOADS = ("tlc_batch", "table_dml", "log_scale")
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def load_benchmark():
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as f:
        return json.load(f)


def run_jvm(args, extra):
    """Runs one workload in a fresh JVM; returns (report lines, result dict)."""
    work = os.path.join(OUT, "work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(OUT, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    trace_out = os.path.join(OUT, "traces", f"{args.workload}-seed{args.seed}.json")
    cmd = build.main_command(tmp) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--dir", work, "--trace-out", trace_out, "--model", build.MODEL] + extra
    log = os.path.join(OUT, f"jvm-{args.workload}.log")
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=lf, text=True)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.communicate()
                fail(f"run exceeded {RUN_TIMEOUT_S} s; JVM log in {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-4000:])
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        fail(f"run failed (exit {p.returncode}); JVM log in {log}")
    return lines[:-1], json.loads(lines[-1])


def compare_with_previous(kind, args, result):
    """Keeps this run's metrics and compares them with the last run of the
    same workload and seed: traced vs untraced gives the tracing overhead,
    and two traced runs show which counters repeat exactly."""
    d = os.path.join(OUT, "results")
    os.makedirs(d, exist_ok=True)
    mine = os.path.join(d, f"{args.workload}-seed{args.seed}-{kind}.json")
    other = os.path.join(d, f"{args.workload}-seed{args.seed}-{'untraced' if kind == 'traced' else 'traced'}.json")
    notes = []
    if kind == "traced" and os.path.exists(other):
        with open(other) as f:
            untraced = json.load(f)
        for k in ("ops_per_s", "read_ms_p50"):
            a, b = result["report"].get(k), untraced["report"].get(k)
            if a and b:
                notes.append(f"tracing overhead {k}: traced {a:.6g} vs untraced {b:.6g} ({100 * (a - b) / b:+.1f}%)")
    if kind == "traced" and os.path.exists(mine):
        with open(mine) as f:
            prev = json.load(f)["metrics"]
        counts = [k for k, m in result["metrics"].items()
                  if m["unit"] in ("count", "bytes", "ratio") and k in prev]
        moved = [k for k in counts if prev[k]["value"] != result["metrics"][k]["value"]]
        notes.append(f"counts repeated exactly vs the previous traced run: {len(counts) - len(moved)}/{len(counts)}"
                     + (f"; differ (timings, not counts): {', '.join(moved)}" if moved else ""))
    with open(mine, "w") as f:
        json.dump(result, f)
    return notes


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (self-test)")
    ap.add_argument("--corrupt", action="store_true", help="flip one expected value per check (self-test)")
    args = ap.parse_args()

    bench = load_benchmark()
    try:
        build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    extra = (["--tiny"] if args.tiny else []) + (["--corrupt"] if args.corrupt else [])
    t0 = time.time()
    lines, result = run_jvm(args, extra)
    for l in lines:
        print(l)
    report = {}
    for l in lines:
        parts = l.strip().split(" ")
        if len(parts) == 4 and parts[1] == "=":
            try:
                report[parts[0]] = float(parts[2])
            except ValueError:
                pass
    kind = "traced" if args.trace else "untraced"
    if not args.tiny and not args.corrupt:
        for n in compare_with_previous(kind, args, dict(result, report=report)):
            print(f"  {n}")
        wanted = bench["per_layer" if args.trace else "end_to_end"]
        if args.workload in {w["name"] for w in bench["workloads"]}:
            missing = [m["name"] for m in wanted if m["name"] not in result["metrics"]]
            if missing:
                fail(f"result lacks metrics named in BENCHMARK.json: {', '.join(missing)}")
            result["metrics"] = {m["name"]: result["metrics"][m["name"]] for m in wanted}
    print(f"  run wall time {time.time() - t0:.1f} s")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
