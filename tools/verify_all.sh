#!/usr/bin/env bash
# The whole round gate as one command — compile, specs, correctness dump,
# DuckDB-oracle replica, flagship smoke, bench. Mirrors exactly what the
# driver runs, so round numbers are never hand-assembled.
#
#   tools/verify_all.sh              # full gate (specs + verify + bench)
#   tools/verify_all.sh --fast       # skip the ScalaTest suite
#
# Outputs: /tmp/verify_out (engine dumps + oracle_sql.json),
#          BENCH_local.json (one bench JSON line, same shape as BENCH_r{N}).
set -euo pipefail
cd "$(dirname "$0")/.."

SF_VERIFY=${SF_VERIFY:-/root/testdata/sf0.01}
SF_BENCH=${SF_BENCH:-/root/testdata/sf0.1}
CPUS=${SPARK_GRAFT_CPUS:-8}
# Regression floors (VERDICT r4 item #7): the gate FAILS if the spec count
# drops or any registry query loses its oracle SQL — a `None` oracle would
# silently demote a query to the weaker rows-only check.
ORACLE_FLOOR=${ORACLE_FLOOR:-194}
SPEC_FLOOR=${SPEC_FLOOR:-683}

echo "== compile =="
sbt -batch compile | tail -1

if [[ "${1:-}" != "--fast" ]]; then
  echo "== specs =="
  SPECS=$(sbt -batch test 2>&1 | grep -E "Tests: " | tail -1)
  echo "$SPECS"
  N=$(echo "$SPECS" | sed -E 's/.*succeeded ([0-9]+).*/\1/')
  NFAIL=$(echo "$SPECS" | sed -E 's/.*failed ([0-9]+).*/\1/')
  [[ "$NFAIL" == "0" ]] || { echo "SPEC FAILURES: $NFAIL"; exit 1; }
  [[ "$N" -ge "$SPEC_FLOOR" ]] || { echo "SPEC COUNT REGRESSED: $N < $SPEC_FLOOR"; exit 1; }
fi

echo "== correctness dump ($SF_VERIFY) =="
rm -rf /tmp/verify_out
SPARK_GRAFT_CPUS=$CPUS sbt -batch "runMain graft.Verify $SF_VERIFY /tmp/verify_out" 2>&1 \
  | grep -E '\[verify\].*failed' && { echo "VERIFY FAILURES"; exit 1; } || true

[[ -f /tmp/verify_out/oracle_sql.json ]] || {
  echo "VERIFY DID NOT COMPLETE (no oracle_sql.json — compile failure?)"; exit 1; }

echo "== oracle replica =="
python3 tools/check_oracle.py "$SF_VERIFY" /tmp/verify_out | tail -3

echo "== oracle-count gate =="
python3 - "$ORACLE_FLOOR" <<'EOF'
import json, sys
n = len(json.load(open("/tmp/verify_out/oracle_sql.json")))
floor = int(sys.argv[1])
assert n >= floor, f"oracle SQL count regressed: {n} < {floor}"
print(f"gate ok: {n} oracle SQLs (floor {floor})")
EOF

echo "== entry smoke =="
SMOKE=$(sbt -batch "runMain graft.EntrySmoke" 2>&1 | grep entry-smoke || true)
echo "$SMOKE"
# the flagship entry must return rows: a missing line or rows=0 fails
[[ "$SMOKE" =~ rows=([0-9]+) ]] && (( BASH_REMATCH[1] > 0 )) || {
  echo "ENTRY SMOKE FAILED (need rows>0)"; exit 1; }

echo "== bench ($SF_BENCH, min-of-2 inside Bench) =="
SPARK_GRAFT_SF_DIR=$SF_BENCH SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Bench" 2>&1 \
  | grep '"metric"' | sed 's/^\[info\] //' | tee BENCH_local.json
