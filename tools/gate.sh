#!/usr/bin/env bash
# Round gate: the test suite, correctness, then the bench and a per-query
# regression diff against the previous round's full snapshot. A single
# timing on a shared box drifts, so a flagged query is re-measured alone,
# best-of-5; a flag that survives the re-measure fails the gate.
#
# Steps: sbt test; graft.Verify at SF_VERIFY + tools/check.py --self-test;
# the SURVEY tally; the sf0.001 oracle sweep (SWEEP=0 skips it); graft.Bench
# at SF_BENCH; tools/bench_diff.py (over 50% AND over 0.15 s, thresholds
# scaled by the cohort's median drift); the best-of-5 re-measure; the plan
# fingerprints (tools/plan_diff.py, structural changes fail).
#
# Usage: tools/gate.sh              (defaults below)
#   SF_VERIFY=/root/testdata/sf0.01 SF_BENCH=/root/testdata/sf0.1
#   PREV=bench/bench_r05.json ROUND=09 tools/gate.sh
#
# The regression diff runs against the PREVIOUS ROUND'S FULL committed
# snapshot (bench/bench_r*.json — all queries), not the driver's BENCH_r*
# tail, which holds only the summary line. On PASS, ROUND=<NN> archives this
# round's full bench_out.json as bench/bench_r<NN>.json so the next round
# has a full baseline too.
set -uo pipefail
cd "$(dirname "$0")/.."
# Archive the gate's own transcript: VERDICT r09 "What's wrong" #3 — the
# committed GATE_r*.txt must always correspond to the committed snapshot,
# so the gate tees itself rather than relying on the operator to remember.
if [ -n "${ROUND:-}" ] && [ -z "${GATE_TEE:-}" ]; then
  export GATE_TEE=1
  exec > >(tee "GATE_r${ROUND}.txt") 2>&1
fi
SF_VERIFY=${SF_VERIFY:-/root/testdata/sf0.01}
SF_BENCH=${SF_BENCH:-/root/testdata/sf0.1}
# sort -V: plain sort puts bench_r100 before bench_r99 once rounds hit
# three digits (ADVICE r09) — version sort keeps the latest round latest.
# The grep pins the glob to FULL-SUITE snapshots (bench_r<N>[a-z].json):
# cohort/cold side-files (bench_r15_mat_sf01.json, bench_r15_cold.json)
# sort -V AFTER bench_r15.json and silently became the baseline in the
# r15 archive run — an 8-query cohort file as PREV skips the other 189
# queries' regression diff (round-16 incident, fixed here).
PREV=${PREV:-$(ls bench/bench_r*.json 2>/dev/null | grep -E 'bench_r[0-9]+[a-z]?\.json$' | sort -V | tail -1)}
PREV=${PREV:-$(ls BENCH_r*.json 2>/dev/null | sort -V | tail -1)}

echo "== gate: test suite (sbt -batch test) =="
# Round-7 shipped with Test/compile broken and nothing caught it (VERDICT r07
# "What's wrong" #1/#2): the suite — compilation included — gates the round.
sbt -batch test || { echo "gate: FAIL — sbt test red (compile or assertion)"; exit 1; }

echo "== gate: correctness (Verify @ $SF_VERIFY vs DuckDB oracle, CPUS=32) =="
# CPUS=32 for driver parity (VERDICT r09 #4): an order-sensitive float bug
# that only manifests at the driver's local[32] must fail HERE, not there.
# Clean slate (review catch): Verify overwrites per-query but never clears
# the dir, so a renamed/removed query's stale result dir survives and
# corrupts the tally check's `declared` ground truth below — a false FAIL
# on a correct SURVEY, or a stale dir masking a genuinely stale tally.
rm -rf /tmp/verify_out
SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Verify $SF_VERIFY /tmp/verify_out" || exit 1
# --self-test: the r12 incident (HUGEINT vs BIGINT invisible to a
# width-blind fetchall() compare) ships a canary — widen one BIGINT
# column of a real result to HUGEINT and require the type check to catch
# it, so a future checker edit can't silently lose driver parity. The
# check's full output (type audit included) lands in GATE_r*.txt via the
# gate's tee, per the r12 judge's archival ask.
python3 tools/check.py "$SF_VERIFY" /tmp/verify_out --self-test || exit 1

echo "== gate: SURVEY tally vs declared inventory (VERDICT r19 #2) =="
# The §2.6 tally shipped stale two rounds running; it is now ONE canonical
# sentence ("Round-N tally: X declared queries / Y oracle-matched") that
# this check compares against ground truth: X = result dirs Verify just
# wrote, Y = entries in the oracle_sql.json it dumped.
declared=$(ls /tmp/verify_out | grep -c '^q')  # one result dir per query
matched=$(python3 -c "import json;print(len(json.load(open('/tmp/verify_out/oracle_sql.json'))))")
tally=$(grep -oE 'Round-[0-9]+ tally: [0-9]+ declared queries / [0-9]+ oracle-matched' SURVEY.md | tail -1)
tally_d=$(echo "$tally" | grep -oE '[0-9]+' | sed -n '2p')
tally_m=$(echo "$tally" | grep -oE '[0-9]+' | sed -n '3p')
if [ "$tally_d" != "$declared" ] || [ "$tally_m" != "$matched" ]; then
  echo "gate: FAIL — SURVEY §2.6 tally says '${tally:-<no canonical tally line found>}'"
  echo "gate:        but Verify declared $declared queries with $matched oracle entries."
  echo "gate:        Update the tally sentence in SURVEY.md §2.6."
  exit 1
fi
echo "gate: SURVEY tally ok ($declared declared / $matched oracle-matched)"

echo "== gate: cross-scale oracle sweep (sf0.001 leg; VERDICT r16 #6) =="
# The r16 sweep caught two latent verify-SF-specific oracle defects
# (q182's fixpoint precondition, q01's scale-2 rounding tie) that the
# single-SF check above can never see. The cheap sf0.001 leg runs every
# gate; the sf0.1 leg stays on-demand (tools/sweep.sh 0.1) — it costs a
# full bench-scale Verify. Skip with SWEEP=0 for partial mid-work gates.
if [ "${SWEEP:-1}" != "0" ]; then
  tools/sweep.sh 0.001 || { echo "gate: FAIL — sf0.001 oracle sweep red"; exit 1; }
fi

echo "== gate: bench (@ $SF_BENCH, local[32], reps=${BENCH_REPS:-3}) =="
# min-of-3 by default (matching Bench's own default): the gate's bench
# output is the committable steady-state snapshot, not a single cold pass
# whose noise the flagged-query re-measure then has to clean up.
SPARK_GRAFT_SF_DIR=$SF_BENCH SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_BENCH_REPS=${BENCH_REPS:-3} \
  sbt -batch "runMain graft.Bench" || exit 1

echo "== gate: bench_diff vs $PREV =="
diff_out=$(python3 tools/bench_diff.py "$PREV" bench_out.json)
rc=$?
echo "$diff_out"
if [ $rc -ne 0 ]; then
  flagged=$(echo "$diff_out" | sed -n 's/^REGRESSED: //p')
  echo "== gate: re-measuring flagged queries warm, best-of-5: $flagged =="
  # scratch output — bench_out.json keeps the committed full-suite baseline.
  # 5 reps, not 3: isolated re-measures of sub-second queries still carry
  # one-off GC/codegen spikes (observed: q39 reps 0.91/0.65/0.91 in-suite
  # vs 0.50 converged over more isolated reps); the re-measure exists to
  # separate noise from code, so give it the reps to converge.
  SPARK_GRAFT_SF_DIR=$SF_BENCH SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_BENCH_QUERIES=$flagged SPARK_GRAFT_BENCH_REPS=${BENCH_REPS_FLAGGED:-5} \
    SPARK_GRAFT_BENCH_OUT=/tmp/bench_flagged.json \
    sbt -batch "runMain graft.Bench" || exit 1
  python3 tools/bench_diff.py "$PREV" /tmp/bench_flagged.json || {
    echo "gate: FAIL — regression survives a warm best-of-5; fix before snapshot"
    exit 1
  }
  echo "gate: flagged queries pass warm — cold-run noise, not a regression"
fi
# Plan-fingerprint sweep (r14 addition; r15 hard-fail policy, VERDICT
# r14 #4): one canonical hash + a structural feature string (join-strategy
# census, shuffle/broadcast exchange counts) per query's optimized plan,
# diffed against the previous round's committed snapshot. TEXT-hash
# changes remain informational (aliases, projection order); STRUCTURAL
# changes — a broadcast pin flipping to SortMergeJoin, a new shuffle —
# FAIL the gate unless acknowledged per-query via PLAN_ACK="q1 q2"
# (the deliberate-change escape hatch; the archived snapshot then becomes
# the new baseline). Demo: tools/plan_guard_demo.sh forces the flip with
# PLAN_HASH_NO_BROADCAST=1 and shows the gate failing.
echo "== gate: plan fingerprints =="
sbt -batch "runMain graft.PlanHash /tmp/plans_new.json" || exit 1
# When re-running a round that already archived its own snapshot, diff
# against the round BEFORE it — a self-compare always reports "unchanged"
# and would hide genuine drift (ADVICE r14).
PREV_PLANS=$(ls plans/plan_r*.json 2>/dev/null \
  | { [ -n "${ROUND:-}" ] && grep -v "plan_r${ROUND}\.json" || cat; } \
  | sort -V | tail -1)
if [ -n "$PREV_PLANS" ]; then
  echo "== gate: plan_diff vs $PREV_PLANS (structural changes hard-fail) =="
  python3 tools/plan_diff.py "$PREV_PLANS" /tmp/plans_new.json
  prc=$?
  if [ $prc -eq 2 ]; then
    echo "gate: FAIL — structural plan change (join strategy / exchange count)."
    echo "gate: if intentional, re-run with PLAN_ACK=\"<queries>\" to accept."
    exit 1
  elif [ $prc -ne 0 ]; then
    echo "gate: FAIL — plan_diff errored (rc=$prc)"; exit 1
  fi
fi

if [ -n "${ROUND:-}" ]; then
  mkdir -p bench plans
  cp /tmp/plans_new.json "plans/plan_r${ROUND}.json"
  cp bench_out.json "bench/bench_r${ROUND}.json"
  echo "gate: archived full snapshot -> bench/bench_r${ROUND}.json ($(python3 -c \
    "import json;print(len(json.load(open('bench_out.json'))['queries']))")q)"
fi
echo "gate: PASS"
