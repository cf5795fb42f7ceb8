#!/bin/bash
# Fast pre-commit smoke gate: every registered query must run at sf0.001
# and return rows (SimSpec), and the registry must stay in sync with
# SURVEY.md / oracle declarations (DocSyncSpec).
#
# This exists because two consecutive rounds shipped a final commit that
# broke the suite: a new query that was oracle-green at sf0.01 returned
# an empty frame at sf0.001 and redded the smoke test. ~2 min vs the
# ~25 min full suite.
#
# r10: the original version piped sbt through `tail -20`, so the
# pipeline's exit status was tail's (always 0) and `set -e` never saw
# sbt fail — the gate was inert (r9 advice, verified by shell repro).
# Now sbt writes to a log file and its OWN exit status is propagated.
set -euo pipefail
cd "$(dirname "$0")/.."
LOG=/tmp/graft_smoke.log
if sbt -batch "testOnly graft.SimSpec graft.DocSyncSpec" >"$LOG" 2>&1; then
  tail -5 "$LOG"
  echo "[smoke] PASS"
else
  status=$?
  tail -40 "$LOG"
  echo "[smoke] FAIL (sbt exit $status; full log: $LOG)"
  exit "$status"
fi
