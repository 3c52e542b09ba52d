#!/usr/bin/env bash
# Round-close gate: everything that must be green (and current) before a
# round snapshot. Run from the repo root:
#
#   bash tools/round_close.sh [sf_dir]      # default /root/testdata/sf0.01
#
# Steps, in order, fail-fast:
#   1. sbt test                    — full ScalaTest suite
#   2. graft.Verify + oracle gate  — every declared query vs DuckDB at sf
#   3. graft.tools.PlanDump audit  — plan-smell sweep; FAILS if the set of
#      flagged queries differs from the dispositioned set in PLANAUDIT.md,
#      so the audit document can never silently lag the query board
#      (round-9 lesson: d18 landed without an audit row).
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="$(mktemp -d /tmp/round_close.XXXXXX)"

echo "== 1/3 sbt test =="
sbt -batch test >"$OUT_DIR/sbt_test.log" 2>&1 \
  || { tail -30 "$OUT_DIR/sbt_test.log"; echo "FAIL: sbt test"; exit 1; }
grep -E "Tests: succeeded" "$OUT_DIR/sbt_test.log" | tail -1

echo "== 2/3 Verify + DuckDB oracle ($SF_DIR) =="
SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR/verify" \
  >"$OUT_DIR/verify.log" 2>&1 || { tail -20 "$OUT_DIR/verify.log"; echo "FAIL: Verify"; exit 1; }
python3 tools/check_correctness.py "$SF_DIR" "$OUT_DIR/verify" | tail -3

echo "== 3/3 PlanDump audit vs PLANAUDIT.md =="
sbt -batch "runMain graft.tools.PlanDump audit $SF_DIR" 2>&1 | grep '^\[audit\]' \
  >"$OUT_DIR/audit.log" || true
grep -q 'ERROR' "$OUT_DIR/audit.log" && { grep ERROR "$OUT_DIR/audit.log"; echo "FAIL: audit errors"; exit 1; }
# every flagged query must have a disposition row in PLANAUDIT.md, and
# every dispositioned row must still be flagged (stale rows rot too)
flagged=$(grep -oP '^\[audit\] \K[a-z0-9_]+(?=:)' "$OUT_DIR/audit.log" | grep -v '^done$' | sort)
documented=$(grep -oP '^\| \K[a-z0-9_]+(?= \|)' PLANAUDIT.md | grep -v '^query$' | sort)
if [ "$flagged" != "$documented" ]; then
  echo "FAIL: PLANAUDIT.md out of date"
  diff <(echo "$flagged") <(echo "$documented") | sed 's/^</  flagged, undocumented: /; s/^>/  documented, unflagged: /' | grep -v '^---\|^[0-9]'
  exit 1
fi
nq=$(grep -oP 'done: \d+/\K\d+' "$OUT_DIR/audit.log")
grep -q "over all $nq declared queries" PLANAUDIT.md \
  || { echo "FAIL: PLANAUDIT.md header count != $nq"; exit 1; }
# the summary count line must track the board too (r11 verdict task 3:
# it said 19/160 on a 175 board for two rounds)
nflag=$(echo "$documented" | grep -c . || true)
grep -q "^$nflag/$nq queries flagged" PLANAUDIT.md \
  || { echo "FAIL: PLANAUDIT.md summary line != $nflag/$nq queries flagged"; exit 1; }
# curve ledger sanity: no duplicate (q, sf) rows, no stale copied rows
# (r11 verdict task 3: d24's sf0.1 row was a byte-identical copy of sf1)
python3 - <<'EOF' || { echo "FAIL: curve_out.json ledger invalid"; exit 1; }
import json, sys
sys.path.insert(0, "tools")
from merge_curve import validate
errs = validate(json.load(open("curve_out.json")))
for e in errs: print(f"  {e}", file=sys.stderr)
sys.exit(1 if errs else 0)
EOF
# README's query-count lines must track the board too (round-10 verdict
# task 8: extend the diff gate to the README count line)
grep -q "driver contract: $nq named queries" README.md \
  || { echo "FAIL: README 'driver contract: N named queries' != $nq"; exit 1; }
grep -q "All $nq declared queries hash-match" README.md \
  || { echo "FAIL: README 'All N declared queries hash-match' != $nq"; exit 1; }
tail -1 "$OUT_DIR/audit.log"
echo "== round close: ALL GREEN (logs in $OUT_DIR) =="
