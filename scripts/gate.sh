#!/usr/bin/env bash
# Round gate (VERDICT_r04 #7/#9): run from /root/repo.
#   1. fresh Verify dump at sf0.01 (the contract, regenerated at HEAD —
#      never a stale dump)
#   2. DuckDB oracle compare over that dump (check_oracle.py)
#   3. SURVEY-vs-contract tripwire against the SAME fresh dump
#      (audit_survey.py must print "agree exactly")
#   4. doctor --deep exit-code smoke on a freshly written table (a
#      table-integrity regression fails the gate loudly, cron-shape)
#   5. a short curate_funnel benchmark run: its seed-1 funnel counts and
#      corpus digest are pinned (perfbench/pinned.json), so any change to
#      curate output fails the run's check and its exit code
#   6. a short crawl_mix benchmark run: its seed-1 extraction output digest
#      is pinned the same way, so any change to extraction output fails it
# Usage: scripts/gate.sh [sfDir] [dumpDir]
set -euo pipefail
SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/v_gate}"

echo "== 1/6 Verify dump at $SF -> $OUT"
rm -rf "$OUT"
sbt -batch "runMain graft.Verify $SF $OUT" > /tmp/gate_verify.log 2>&1 \
  || { tail -20 /tmp/gate_verify.log; exit 1; }
grep -i "\[verify\].*failed" /tmp/gate_verify.log && exit 1

echo "== 2/6 DuckDB oracle compare"
python3 scripts/check_oracle.py "$SF" "$OUT"

echo "== 3/6 SURVEY-vs-contract tripwire (fresh dump)"
python3 scripts/audit_survey.py "$OUT"

echo "== 4/6 doctor --deep smoke (fresh table, exit code checked)"
DOC_TBL="$(mktemp -d)/pages"
sbt -batch "runMain graft.Main write-pages 400 $DOC_TBL" > /tmp/gate_doc.log 2>&1
sbt -batch "runMain graft.Main doctor $DOC_TBL --deep" >> /tmp/gate_doc.log 2>&1 \
  || { echo "DOCTOR GATE FAILED (nonzero exit)"; tail -5 /tmp/gate_doc.log; exit 1; }
grep -E "^(OK|ERROR|WARN)" /tmp/gate_doc.log | tail -3 || true
grep -q "OK    clean" /tmp/gate_doc.log \
  || { echo "DOCTOR GATE FAILED (not clean)"; exit 1; }

echo "== 5/6 curate_funnel benchmark check (pinned seed-1 output)"
python3 perfbench/run.py --workload curate_funnel --seed 1 --seconds 2 --trace 0 \
  > /tmp/gate_curate.log 2>&1 \
  || { echo "CURATE GATE FAILED (nonzero exit)"; tail -20 /tmp/gate_curate.log; exit 1; }
tail -1 /tmp/gate_curate.log

echo "== 6/6 crawl_mix benchmark check (pinned seed-1 output)"
python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 2 --trace 0 \
  > /tmp/gate_crawl.log 2>&1 \
  || { echo "CRAWL GATE FAILED (nonzero exit)"; tail -20 /tmp/gate_crawl.log; exit 1; }
tail -1 /tmp/gate_crawl.log

echo "GATE GREEN"
