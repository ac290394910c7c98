#!/usr/bin/env bash
# Round-gate hygiene (VERDICT r10 item 7): "artifacts or it didn't
# happen". Run before the round snapshot commit so a non-compiling or
# red HEAD can never reach the driver gate (the r9 failure mode:
# BENCH_r09 rc=1, CORRECTNESS_r09 = {}).
#
# Usage: tools/round_check.sh [sfDir] [verifyOutDir]
set -euo pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/round_check}

echo "== 1/8 env reads only in Bench.scala and Session.scala =="
# library behaviour is set by arguments and inputs alone; only the
# mains' settings (Bench) and the session's core count (Session) read
# the environment
ENV_READS=$(grep -rnE 'sys\.env|System\.getenv' src/main/scala \
  | grep -vE '^src/main/scala/graft/(Bench|Session)\.scala:' || true)
if [ -n "$ENV_READS" ]; then
  echo "$ENV_READS"
  echo "ENV READ outside Bench.scala / Session.scala"; exit 1
fi

echo "== 2/8 directory-replace protocol only in DirSwap.scala =="
# every crash-safe directory replace goes through DirSwap.replace, so
# its twin name and its swap are spelled nowhere else
SWAPS=$(grep -rnE '"__compact"|"__fold"|DirSwap\.swap' src/main/scala \
  | grep -v '^src/main/scala/graft/sources/DirSwap\.scala:' || true)
if [ -n "$SWAPS" ]; then
  echo "$SWAPS"
  echo "TWIN NAME or DirSwap.swap outside DirSwap.scala"; exit 1
fi

echo "== 3/8 compile =="
sbt -batch compile

echo "== 4/8 perfbench harness builds against this library =="
# the benchmark compiles perfbench/src together with src/main/scala; a
# library signature change that breaks the harness fails here, not in
# the benchmark run (run.build() skips the build while the sources are
# unchanged since its last one)
python3 -c 'import sys; sys.path.insert(0, "perfbench"); import run; run.build()'

echo "== 5/8 scalatest =="
# stale suite XMLs from deleted specs otherwise inflate the directory
# aggregate vs the fresh run's true tally (VERDICT r15 item 4)
rm -rf target/test-reports
sbt -batch test

echo "== 6/8 verify dump + DuckDB oracle compare ($SF) =="
rm -rf "$OUT"
sbt -batch "runMain graft.Verify $SF $OUT"
python3 tools/check.py "$SF" "$OUT"

# NOTE: per-query noise-vs-regression calls are NOT made here (the
# smoke below is 1 run at sf0.001). For plan-regression triage compare
# two full sf0.1 artifacts with spread fields:
#   python3 tools/bench_drift.py tools/bench_local_r13.json BENCH_LOCAL_latest.json
# THE RULE (VERDICT r13 item 2): a median move counts only if it falls
# outside the other artifact's [min,max] band.

# Load guard (VERDICT r16 item 7): a bench in the wake of a 32-core
# evidence run measures +10-20% across the whole catalog (r16 drift
# triage). Binding sf0.1 runs must come from an idle box — the guard
# that was applied by hand each round, made mechanical. The smoke run
# below is non-binding, so the guard WARNS here and only REFUSES when
# BINDING=1 (export SPARK_GRAFT_BINDING=1 for the artifact run).
# r18 (VERDICT r17 item 6): the BINDING threshold is 1.0 — the r17
# 4.0-threshold artifact passed the guard at loadavg 2.09 yet ran 11%
# slower than the same-code idle run; 4.0 stays for non-binding smoke.
LOAD5=$(awk '{print $2}' /proc/loadavg)
if [ "${SPARK_GRAFT_BINDING:-0}" = "1" ]; then
  LOAD_MAX=${SPARK_GRAFT_LOAD_MAX:-1.0}
else
  LOAD_MAX=${SPARK_GRAFT_LOAD_MAX:-4.0}
fi
if awk -v l="$LOAD5" -v m="$LOAD_MAX" 'BEGIN{exit !(l>m)}'; then
  if [ "${SPARK_GRAFT_BINDING:-0}" = "1" ]; then
    echo "LOAD GUARD: 5-min load $LOAD5 > $LOAD_MAX — refusing a binding bench; wait for idle"
    exit 1
  fi
  echo "LOAD GUARD (warn): 5-min load $LOAD5 > $LOAD_MAX — smoke timings will be load-polluted"
else
  echo "load guard passed: 5-min load $LOAD5 <= $LOAD_MAX"
fi

echo "== 7/8 bench smoke (sf0.001, 1 run) =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 SPARK_GRAFT_RUNS=1 \
  SPARK_GRAFT_BENCH_OUT=/tmp/round_check_bench.json \
  sbt -batch "runMain graft.Bench" > /dev/null
grep -o '"metric":"total","value":[0-9.]*' /tmp/round_check_bench.json

echo "== 8/8 plan audit (unpartitioned windows / cartesians / BNLJ drift) =="
# the 13 flagged queries are the documented 1-row-scalar broadcast
# nested loops (global aggregates joined back); anything NEW flagged
# here is a plan regression the golden specs didn't cover
sbt -batch "runMain graft.Dev audit $SF" 2>/dev/null \
  | grep -o 'AUDIT [a-z0-9_]*:.*' | grep -v '^AUDIT done:' \
  | sort > /tmp/plan_audit_now.txt
cat > /tmp/plan_audit_allow.txt <<'ALLOW'
AUDIT d10_triangles: BroadcastNestedLoopJoin
AUDIT k4_area_derivation: BroadcastNestedLoopJoin
AUDIT p15_topic_card: BroadcastNestedLoopJoin
AUDIT q11_important_parts: BroadcastNestedLoopJoin
AUDIT q22_idle_customers: BroadcastNestedLoopJoin
AUDIT q_decile_bucket: BroadcastNestedLoopJoin
AUDIT s10_bm25_queries: BroadcastNestedLoopJoin
AUDIT s11_hybrid_fusion: BroadcastNestedLoopJoin
AUDIT s1_cosine_topk: BroadcastNestedLoopJoin
AUDIT s4_ivf_label: BroadcastNestedLoopJoin
AUDIT s6_pq_ann: BroadcastNestedLoopJoin
AUDIT s8_bm25: BroadcastNestedLoopJoin
AUDIT s9_rrf_fusion: BroadcastNestedLoopJoin
AUDIT t26_dsir: BroadcastNestedLoopJoin
AUDIT t36_source_drift: BroadcastNestedLoopJoin
ALLOW
if ! diff -u /tmp/plan_audit_allow.txt /tmp/plan_audit_now.txt; then
  echo "PLAN AUDIT DRIFT (see diff above)"; exit 1
fi

echo "ROUND CHECK GREEN (incl. plan audit)"
