#!/bin/bash
# Local correctness loop: sbt-run Verify at a small SF, then DuckDB-compare.
# Usage: scripts/check.sh [sfdir]
# Exits non-zero when the smoke gate fails, when any query throws in
# Verify (its log names them), or when an oracle compare fails.
set -euo pipefail
SF=${1:-/root/testdata/sf0.01}
OUT=/tmp/verify_out
LOG=/tmp/graft_verify.log
cd "$(dirname "$0")/.."
# Run the smoke gate unconditionally first: even a hook-bypassing commit
# path gets caught by the build log this way.
bash scripts/smoke.sh
# sbt writes to a log file so its OWN exit status (Verify exits 1 when a
# query throws) reaches `set -e`, then the log is grepped for the summary.
if SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify $SF $OUT" >"$LOG" 2>&1; then
  grep -E "\[verify\]" "$LOG" || true
else
  status=$?
  grep -E "\[verify\]|error\]" "$LOG" | tail -40 || true
  echo "[check] Verify FAIL (sbt exit $status; full log: $LOG)"
  exit "$status"
fi
python3 scripts/check_oracle.py "$SF" "$OUT"
