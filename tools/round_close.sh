#!/bin/bash
# Round-close archive lint (r14 verdict stretch item 8): machine-check
# SURVEY §15's end-of-round artifact policy — "at judge entry the
# worktree is clean modulo DRIVER-written files". Run as the LAST step
# of a building session; a non-empty worktree beyond the allowlist
# means work the session forgot to commit (or a capture that clobbered
# a committed baseline), which previously surfaced only as judge-side
# forensics (r14: LEAKCHECK.json modified-but-uncommitted).
#
# Exit 0 = clean (possibly listing expected driver files), 1 = dirty.
set -uo pipefail
cd /root/repo

# Files the DRIVER writes after the session ends (or rewrites each
# round): these being untracked/modified at round close is the policy,
# not a violation.
ALLOW='^(CORRECTNESS_r[0-9]+\.json|BENCH_r[0-9]+\.json|LEAKCHECK\.json|COPYCHECK\.json|PROGRESS\.jsonl|TESTDATA\.md|BASELINE\.(md|json)|VERDICT\.md|ADVICE\.md)$'

# BENCH_LOCAL.json is special (r15 verdict item 4): the driver's
# post-commit bench run legitimately rewrites the committed baseline.
# That one modification is policy, not a violation — but ONLY when the
# worktree content is the driver's own capture, i.e. it matches the
# newest BENCH_rN.json the same run wrote. Any other BENCH_LOCAL.json
# modification (a builder capture left uncommitted) stays red.
#
# Two BENCH_rN.json shapes exist (r17 verdict item 1 — the r17 DIRTY
# cry-wolf): Bench's own line format (one JSON object per line), and
# the driver's capture wrapper {"n":N,"rc":0,"tail":"<last stdout
# bytes>"} whose tail embeds the bench lines. The line-by-line compare
# can never match the wrapper, so also accept BENCH_LOCAL.json whose
# total_trailer (run fingerprint: totals, task seconds, error_count) equals
# a total_trailer found in the wrapper's tail.
bench_local_is_driver_rewrite() {
  local latest
  latest=$(ls BENCH_r[0-9]*.json 2>/dev/null | sort -V | tail -1)
  [ -n "$latest" ] || return 1
  cmp -s BENCH_LOCAL.json "$latest" && return 0
  # Tolerate byte-level drift (trailing newline, key order): compare
  # the parsed JSON of every line; failing that, match trailers
  # against the wrapper form.
  python3 - "$latest" <<'EOF'
import json, re, sys
def parse_lines(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]
local = None
try:
    local = parse_lines("BENCH_LOCAL.json")
    if local == parse_lines(sys.argv[1]):
        sys.exit(0)
except Exception:
    pass
try:
    if local is None:
        sys.exit(1)
    with open(sys.argv[1]) as f:
        wrapper = json.load(f)
    tail = wrapper.get("tail", "") if isinstance(wrapper, dict) else ""
    # trailer objects are flat JSON — non-greedy to the first closing
    # brace is exact
    trailers = [json.loads(m)
                for m in re.findall(r'\{"metric":"total_trailer".*?\}', tail)]
    mine = [l for l in local if l.get("metric") == "total_trailer"]
    if not (mine and trailers and mine[-1] == trailers[-1]):
        sys.exit(1)
    # r18 advisory: the trailer alone leaves the per-query total line
    # (what the spread census and regression lint consume) unverified —
    # an edited queries map with an intact trailer would pass. Harvest
    # the tail-visible slice of the wrapper's queries map and demand it
    # agrees with BENCH_LOCAL's total line on every recoverable pair.
    totals = [l for l in local if l.get("metric") == "total"
              and isinstance(l.get("queries"), dict)]
    if not totals:
        sys.exit(1)
    lq = {k: float(v) for k, v in totals[-1]["queries"].items()}
    anchor = tail.rfind('},"value":')
    start = tail.rfind('"queries":{', 0, anchor)
    frag = tail[(start + len('"queries":{')) if start >= 0 else 0:anchor] \
        if anchor >= 0 else ""
    pairs = re.findall(
        r'"(q_[a-z0-9_]+)":(-?[0-9]+(?:\.[0-9]+)?(?:[Ee][+-]?[0-9]+)?)', frag)
    if not pairs:
        sys.exit(1)  # trailer matched but no queries map recoverable
    sys.exit(0 if all(k in lq and lq[k] == float(v) for k, v in pairs)
             else 1)
except Exception:
    sys.exit(1)
EOF
}

dirty=0
while IFS= read -r line; do
  [ -z "$line" ] && continue
  f="${line:3}"
  # rename entries look like "old -> new"; check the destination
  f="${f##* -> }"
  if echo "$f" | grep -qE "$ALLOW"; then
    echo "allowed (driver file): $line"
  elif [ "$f" = "BENCH_LOCAL.json" ] && [ "${line:0:2}" = " M" ] \
       && bench_local_is_driver_rewrite; then
    echo "allowed (driver baseline refresh, matches newest BENCH_rN.json): $line"
  else
    echo "VIOLATION (uncommitted work at round close): $line"
    dirty=1
  fi
done < <(git status --porcelain)

if [ "$dirty" -eq 0 ]; then
  echo "ROUND-CLOSE CLEAN: worktree clean modulo driver files"
else
  echo "ROUND-CLOSE DIRTY: commit or discard the violations above"
fi

# Informational (r18 verdict stretch item 7): current baseline vs the
# spread census — a drifting query surfaces at close time instead of
# waiting for a judge. Never changes CLEAN/DIRTY.
CENSUS=$(ls SPREAD_CENSUS_R*.json 2>/dev/null | sort -V | tail -1)
if [ -n "$CENSUS" ] && [ -f BENCH_LOCAL.json ]; then
  python3 - "$CENSUS" <<'EOF' || true
import json, sys
try:
    census = json.load(open(sys.argv[1])).get("stable", {})
    cur = None
    with open("BENCH_LOCAL.json") as f:
        for line in f:
            try:
                o = json.loads(line)
            except json.JSONDecodeError:
                continue
            if o.get("metric") == "total" and isinstance(o.get("queries"), dict):
                cur = {k: float(v) for k, v in o["queries"].items()}
    if not cur:
        raise SystemExit(0)
    devs = sorted(
        ((sec / census[q]["median"], q, sec, census[q]["median"])
         for q, sec in cur.items()
         if q in census and census[q].get("median", 0) > 0 and sec > 0),
        reverse=True)[:3]
    # n<5 medians come from too few stable captures to trim spikes —
    # annotate them so a deviation against one isn't read as stable
    # drift (r19 verdict stretch item 7)
    def tag(q):
        n = census[q].get("n", 0)
        return f" [n={n}<5: median not stable]" if n < 5 else ""
    line = "  ".join(f"{q} {sec:.2f}s={r:.2f}x med {med:.2f}s{tag(q)}"
                     for r, q, sec, med in devs)
    print(f"census check ({sys.argv[1]}): top deviations vs stable median: {line}")
    low_n = sorted(q for q in census if census[q].get("n", 0) < 5)
    if low_n:
        print(f"census check: {len(low_n)} queries below n=5 stable "
              f"samples (medians advisory only): {', '.join(low_n)}")
except Exception as e:
    print(f"census check skipped: {e}")
EOF
fi

# Standing reminder (r16 verdict item 5): if the driver REGENERATED
# /root/testdata between rounds (TESTDATA.md timestamp changed), the two
# fixture-bound BPE VALUES oracles in graft.suite.TextQueries must be
# regenerated against the new sf0.01 corpus:
#   python3 tools/gen_bpe_oracle.py /root/testdata/sf0.01 12 2
# (paste into the q_bpe_merges / q_bpe_encode oracles). The signature of forgetting: ONLY
# q_bpe_merges/q_bpe_encode hash-red in the next CORRECTNESS_rN.json.
# tools/alt_seed_gate.sh proves the rest of the oracle set is
# content-independent on demand.
if [ -n "$(find /root/testdata -maxdepth 1 -name 'TESTDATA*' -newer BENCH_LOCAL.json 2>/dev/null)" ] \
   || [ "TESTDATA.md" -nt "src/main/scala/graft/suite/TextQueries.scala" ]; then
  echo "NOTE: TESTDATA.md is newer than TextQueries.scala — if the test"
  echo "      data was regenerated, re-run tools/gen_bpe_oracle.py and"
  echo "      refresh the two BPE VALUES oracles in graft.suite.TextQueries."
fi

exit "$dirty"
