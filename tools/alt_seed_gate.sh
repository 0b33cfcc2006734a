#!/bin/bash
# Alternate-seed oracle gate (r16 verdict item 5): one command that
# proves no oracle constant is fixture-tuned. It
#   1. regenerates a content-different corpus from <seed> with
#      graft.tools.GenAlt (seeded permutations / numeric jitter /
#      timestamp shifts / text edits / embedding jitter — keys and dim
#      tables untouched);
#   2. dumps every SparkEntry query over it with graft.Verify;
#   3. hash-compares all of them in DuckDB against the COMMITTED oracle
#      SQL (tools/oracle_batch.py) — everything except the two
#      fixture-bound BPE VALUES oracles must be green unchanged;
#   4. regenerates exactly those two BPE oracles against the alt corpus
#      (tools/gen_bpe_oracle.py -> tools/patch_bpe_oracle.py) and
#      re-checks them -> all queries green.
#
# NOTE for round close: if the DRIVER regenerates /root/testdata between
# rounds, the committed q_bpe_merges/q_bpe_encode VALUES in
# graft.suite.TextQueries must be re-generated the same way (gen_bpe_oracle
# against the new sf0.01) — this gate failing ONLY on the two BPE queries
# in step 3 and passing step 4 is exactly that signature, not a defect.
#
# Usage: tools/alt_seed_gate.sh [seed] [srcSfDir]
set -euo pipefail
SEED="${1:-11}"
SRC="${2:-/root/testdata/sf0.01}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"
ALT="$REPO/.tmp/testdata_alt$SEED"
OUT="$REPO/.tmp/alt_verify_out_$SEED"
LOG="$REPO/.tmp/alt_gate_seed$SEED.log"
mkdir -p "$REPO/.tmp"
rm -rf "$ALT" "$OUT"
: > "$LOG"

echo "[alt-gate] 1/4 corpus: GenAlt $SRC -> $ALT (seed=$SEED)" | tee -a "$LOG"
"$REPO/tools/run_main.sh" graft.tools.GenAlt "$SRC" "$ALT" "$SEED" >> "$LOG" 2>&1

echo "[alt-gate] 2/4 spark dump: graft.Verify $ALT -> $OUT" | tee -a "$LOG"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" \
  "$REPO/tools/run_main.sh" graft.Verify "$ALT" "$OUT" >> "$LOG" 2>&1

echo "[alt-gate] 3/4 committed-oracle batch (DuckDB)" | tee -a "$LOG"
BATCH=$(python3 "$REPO/tools/oracle_batch.py" "$ALT" "$OUT" 300 2>>"$LOG") || true
echo "$BATCH" >> "$LOG"
# SKIPs are load artifacts (per-query oracle budget exceeded / disk
# guard on a busy host), not fixture-tuning evidence — a loaded host
# must not flake the gate RED (r17 advisory). Retry skipped non-BPE
# queries once with a 3x budget; only FAIL/ERR (hash/SQL mismatches)
# are hard RED.
SKIPPED=$(echo "$BATCH" | grep '^SKIP' | grep -v 'q_bpe_' \
  | awk '{print $2}' | tr -d ':' | paste -sd, - || true)
if [ -n "$SKIPPED" ]; then
  echo "[alt-gate] WARN: retrying load-skipped queries at 900s budget: $SKIPPED" | tee -a "$LOG"
  RETRY=$(python3 "$REPO/tools/oracle_batch.py" "$ALT" "$OUT" 900 "$SKIPPED" 2>>"$LOG") || true
  echo "$RETRY" >> "$LOG"
  # splice retry verdicts over the originals (BPE skips stay: step 4
  # regenerates and re-checks those two regardless)
  BATCH=$( { echo "$BATCH" | grep -v '^SKIP' ; echo "$BATCH" | grep '^SKIP' | grep 'q_bpe_' || true ; echo "$RETRY" ; } )
fi
NOT_OK=$(echo "$BATCH" | grep -cE '^(FAIL|ERR)' || true)
# BPE SKIP rows are deliberately kept in BATCH (step 4 regenerates and
# re-verifies both BPE oracles regardless), so they must NOT count as
# "never ran" — with them in SKIP_LEFT, a fully-verified run still
# reported YELLOW/exit-2 (r19 ADVICE). They stay in the denominator via
# BPE_SKIP: step 4's re-check covers them.
SKIP_LEFT=$(echo "$BATCH" | grep '^SKIP' | grep -cv 'q_bpe_' || true)
BPE_SKIP=$(echo "$BATCH" | grep '^SKIP' | grep -c 'q_bpe_' || true)
BAD_NON_BPE=$(echo "$BATCH" | grep -E '^(FAIL|ERR)' | grep -cv 'q_bpe_' || true)
OK1=$(echo "$BATCH" | grep -c '^OK' || true)
echo "[alt-gate] pass 1: $OK1 OK, $NOT_OK FAIL/ERR (non-BPE: $BAD_NON_BPE), $SKIP_LEFT non-BPE still-skipped" | tee -a "$LOG"
if [ "$BAD_NON_BPE" -ne 0 ]; then
  echo "$BATCH" | grep -E '^(FAIL|ERR)' | tee -a "$LOG"
  echo "[alt-gate] RED: a non-BPE oracle failed on the alternate corpus" | tee -a "$LOG"
  exit 1
fi
if [ "$SKIP_LEFT" -ne 0 ]; then
  echo "$BATCH" | grep '^SKIP' | tee -a "$LOG"
  echo "[alt-gate] YELLOW: $SKIP_LEFT queries skipped even at the retry budget — rerun on a quieter host; NOT counted as fixture-tuning evidence" | tee -a "$LOG"
fi

echo "[alt-gate] 4/4 regenerate the 2 fixture-bound BPE oracles on the alt corpus" | tee -a "$LOG"
python3 "$REPO/tools/gen_bpe_oracle.py" "$ALT" 12 2 > "$REPO/.tmp/alt_bpe_$SEED.txt" 2>>"$LOG"
python3 "$REPO/tools/patch_bpe_oracle.py" "$REPO/.tmp/alt_bpe_$SEED.txt" \
  "$OUT/oracle_sql.json" | tee -a "$LOG"
BPE=$(python3 "$REPO/tools/oracle_batch.py" "$ALT" "$OUT" 300 q_bpe_merges,q_bpe_encode 2>>"$LOG") || true
echo "$BPE" >> "$LOG"
BPE_OK=$(echo "$BPE" | grep -c '^OK' || true)
echo "[alt-gate] BPE re-check: $BPE_OK/2 OK" | tee -a "$LOG"
if [ "$BPE_OK" -ne 2 ]; then
  echo "$BPE" | tee -a "$LOG"
  echo "[alt-gate] RED: regenerated BPE oracle mismatch" | tee -a "$LOG"
  exit 1
fi

TOTAL=$((OK1 + BPE_OK))
# r18 advisory: an incompletely-run gate (queries still skipped after
# the retry) must be distinguishable by both the verdict line and the
# exit code — automation keying on "GREEN"/exit 0 would otherwise treat
# a load-truncated run as fully green.
if [ "$SKIP_LEFT" -ne 0 ]; then
  echo "[alt-gate] YELLOW: $TOTAL/$((OK1 + NOT_OK + SKIP_LEFT + BPE_SKIP)) green but $SKIP_LEFT non-BPE queries never ran even at the retry budget on seed=$SEED — rerun on a quieter host (log: $LOG)" | tee -a "$LOG"
  exit 2
fi
echo "[alt-gate] GREEN: $TOTAL/$((OK1 + NOT_OK + SKIP_LEFT + BPE_SKIP)) oracle queries green on seed=$SEED (log: $LOG)" | tee -a "$LOG"
