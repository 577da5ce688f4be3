#!/bin/bash
# Targeted correctness check: verify_some.sh q160_delta_agg[,q161_...] [sfdir]
# Runs graft.Verify on just those queries, filters oracle_sql.json to the
# subset, and runs the DuckDB compare. Works from any checkout; each run
# writes its output and log to a fresh temporary directory, printed first.
set -e
QS="$1"
SF="${2:-/root/testdata/sf0.01}"
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
WORK="$(mktemp -d "${TMPDIR:-/tmp}/verify_some.XXXXXX")"
OUT="$WORK/out"
LOG="$WORK/verify.log"
echo "verify_some: output and log in $WORK"
cd "$REPO"
SPARK_GRAFT_ONLY="$QS" SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify $SF $OUT" >"$LOG" 2>&1 || { echo "VERIFY FAILED"; tail -30 "$LOG"; exit 1; }
python3 - "$QS" "$OUT/oracle_sql.json" <<'PY'
import json, sys
keep = set(sys.argv[1].split(','))
p = sys.argv[2]
d = json.load(open(p))
json.dump({k: v for k, v in d.items() if k in keep}, open(p, "w"))
PY
python3 tools/check_correctness.py "$OUT" "$SF"
