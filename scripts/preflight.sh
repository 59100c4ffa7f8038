#!/usr/bin/env bash
# Pre-snapshot gate — run before EVERY end-of-round commit (see README).
# Round 7's lesson: one uncompiled line in the final commit zeroed the
# whole round's correctness + bench board. This script is the insurance:
#   1. sbt compile  (the exact step the driver runs first)
#   2. sbt test     (full ScalaTest suite), then scripts/test_times.py
#      prints its total time and slowest suites/cases from the reports
#   3. perfbench sbt test — the benchmark harness compiles against the
#      main code (operators.AsOf, plans.NativeAsOf, ...), so a main-code
#      change that breaks its build or its CheckSpec fails here
#   4. Verify smoke at sf0.001 — every SparkEntry.queries entry runs and
#      dumps parquet; any query that throws fails the gate.
#   5. (optional, if duckdb is importable) oracle compare via
#      scripts/check_oracle.py on the same sf0.001 dump.
# Exit code 0 = safe to snapshot.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.001}"
OUT_DIR="$(mktemp -d /tmp/graft-preflight.XXXXXX)"
trap 'rm -rf "$OUT_DIR"' EXIT

echo "[preflight] 1/5 sbt compile + Test/compile"
sbt -batch compile Test/compile

echo "[preflight] 2/5 sbt test"
sbt -batch test
python3 scripts/test_times.py target/test-reports

echo "[preflight] 3/5 perfbench sbt test"
(cd perfbench && sbt -batch test)

echo "[preflight] 4/5 Verify smoke at $SF_DIR"
VERIFY_LOG="$OUT_DIR/verify.log"
sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR" 2>&1 | tee "$VERIFY_LOG" | tail -5
if grep -q '\[verify\] .* failed' "$VERIFY_LOG"; then
  echo "[preflight] FAIL: queries threw during Verify:" >&2
  grep '\[verify\] .* failed' "$VERIFY_LOG" >&2
  exit 1
fi
# every registered query must have produced a parquet dir
# (keys parsed as JSON, not grepped — a q_* literal inside an oracle SQL
# string must not register as a key)
missing=0
for d in $(python3 -c 'import json,sys; print("\n".join(sorted(json.load(open(sys.argv[1])))))' "$OUT_DIR/oracle_sql.json"); do
  if [ ! -d "$OUT_DIR/$d" ]; then echo "[preflight] MISSING dump: $d" >&2; missing=1; fi
done
[ "$missing" -eq 0 ] || exit 1

# STRICT when duckdb is importable: any row/schema/hash mismatch fails the
# gate (this is the driver's gate, locally). Only duckdb's absence is soft.
echo "[preflight] 5/5 oracle compare (strict if duckdb importable)"
if python3 -c 'import duckdb' 2>/dev/null; then
  python3 scripts/check_oracle.py "$SF_DIR" "$OUT_DIR"
else
  echo "[preflight]   duckdb not importable here — skipped (driver runs it)"
fi

echo "[preflight] PASS — safe to snapshot"
