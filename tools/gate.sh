#!/usr/bin/env bash
# The ONE correctness gate. Runs Verify, then BOTH checkers:
#   tools/check.py       — value-level compare (rows + repr values)
#   tools/dtype_check.py — the driver's stricter pandas dtype/hash model
# A query is "green" ONLY if both pass. Round 12 shipped 4 driver reds
# because dtype_check was skipped on new queries; never run check.py alone.
#
# Usage: tools/gate.sh [sfDir] [outDir] [q1,q2,...]
#   tools/gate.sh                         # full gate at sf0.01
#   tools/gate.sh /root/testdata/sf0.01 /tmp/out q145_versioned_merge
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/gate_out}"
ONLY="${3:-}"
rm -rf "$OUT"
if [ -n "$ONLY" ]; then
  sbt -batch "runMain graft.Verify $SF $OUT $ONLY" >/dev/null
else
  sbt -batch "runMain graft.Verify $SF $OUT" >/dev/null
fi
# both checkers always run and print their verdicts; the gate fails
# if either does
rc=0
python3 tools/check.py "$OUT" "$SF" || rc=1
python3 tools/dtype_check.py "$OUT" "$SF" || rc=1
if [ "$rc" -ne 0 ]; then
  echo "== gate RED (values and/or dtypes; see both verdicts above) =="
  exit 1
fi
echo "== gate green (values + dtypes) =="
