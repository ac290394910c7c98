#!/usr/bin/env bash
# Round-gate hygiene (VERDICT r10 item 7): "artifacts or it didn't
# happen". Run before the round snapshot commit so a non-compiling or
# red HEAD can never reach the driver gate (the r9 failure mode:
# BENCH_r09 rc=1, CORRECTNESS_r09 = {}).
#
# Nine steps: env reads, the DirSwap protocol, the one bloom probe
# path, compile, the perfbench harness build, scalatest, the Verify
# dump against the DuckDB oracle, the plan audit, and the public defs
# only specs reach. A failing catalog query fails step 7: Verify
# materializes every result, names each failed query and exits 1.
# Timing is not checked here; `perfbench/run.py` is the one timing
# path (see BENCHMARK.json).
#
# Usage: tools/round_check.sh [sfDir] [verifyOutDir]
set -euo pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/round_check}

echo "== 1/9 env reads only in Session.scala =="
# library behaviour is set by arguments and inputs alone; only the
# session's core count (SPARK_GRAFT_CPUS) reads the environment
ENV_READS=$(grep -rnE 'sys\.env|System\.getenv' src/main/scala \
  | grep -v '^src/main/scala/graft/Session\.scala:' || true)
if [ -n "$ENV_READS" ]; then
  echo "$ENV_READS"
  echo "ENV READ outside Session.scala"; exit 1
fi

echo "== 2/9 directory-replace protocol only in DirSwap.scala =="
# every crash-safe directory replace goes through DirSwap.replace, so
# its twin name and its swap are spelled nowhere else
SWAPS=$(grep -rnE '"__compact"|"__fold"|DirSwap\.swap' src/main/scala \
  | grep -v '^src/main/scala/graft/sources/DirSwap\.scala:' || true)
if [ -n "$SWAPS" ]; then
  echo "$SWAPS"
  echo "TWIN NAME or DirSwap.swap outside DirSwap.scala"; exit 1
fi

echo "== 3/9 bloom membership probes only in BloomMembership.scala =="
# every bloom probe is BloomMembership's broadcast BloomContainsBc; a
# second probe path (Spark's might_contain, a plan-literal function,
# a hand-built BloomContainsBc) is spelled nowhere else, and the
# filter itself is tested only inside BloomContainsBc: a driver-side
# mightContainLong / mightContainHash / mightContainKey test on
# collected keys is a spec oracle (KernelOracles), not a probe path
PROBES=$( (grep -rnE 'BloomFilterMightContain|graft_bloom_contains|BloomContainsBc\(' src/main/scala \
    | grep -vE '^src/main/scala/graft/(operators/BloomMembership|plans/BloomContainsBcExpression)\.scala:'
  grep -rnE 'mightContain(Long|Hash|Key)' src/main/scala \
    | grep -v '^src/main/scala/graft/plans/BloomContainsBcExpression\.scala:') || true)
if [ -n "$PROBES" ]; then
  echo "$PROBES"
  echo "BLOOM PROBE outside BloomMembership.scala"; exit 1
fi

echo "== 4/9 compile =="
sbt -batch compile

echo "== 5/9 perfbench harness builds against this library =="
# the benchmark compiles perfbench/src together with src/main/scala; a
# library signature change that breaks the harness fails here, not in
# the benchmark run (run.build() skips the build while the sources are
# unchanged since its last one)
python3 -c 'import sys; sys.path.insert(0, "perfbench"); import run; run.build()'

echo "== 6/9 scalatest =="
# stale suite XMLs from deleted specs otherwise inflate the directory
# aggregate vs the fresh run's true tally (VERDICT r15 item 4)
rm -rf target/test-reports
sbt -batch test

echo "== 7/9 verify dump + DuckDB oracle compare ($SF) =="
rm -rf "$OUT"
sbt -batch "runMain graft.Verify $SF $OUT"
python3 tools/check.py "$SF" "$OUT"

echo "== 8/9 plan audit (unpartitioned windows / cartesians / BNLJ drift) =="
# the 15 flagged queries are the documented 1-row-scalar broadcast
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

echo "== 9/9 public defs in src/main that no main or perfbench code references =="
# src/main holds what a session, a query or a workload runs; the defs
# below are SparkEntry.entry (called from outside the build) and
# spec-gated capabilities (SURVEY §2) that only specs reach.
# A new test-only def in main (e.g. a HOF twin of a native kernel,
# whose place is the spec oracles in src/test) fails here until it is
# deleted, moved to src/test, or added below on purpose
python3 tools/test_only_defs.py > /tmp/test_only_defs_now.txt
cat > /tmp/test_only_defs_allow.txt <<'ALLOW'
graft/SparkEntry.scala entry
graft/Tables.scala registerAll
graft/functions/Geometry.scala bboxEdgeSegments
graft/functions/Geometry.scala inImage
graft/functions/Geometry.scala planeCorners
graft/functions/Geometry.scala projectToImage
graft/functions/SketchOps.scala kmvIntersectEstimate
graft/functions/SketchOps.scala kmvSketch
graft/operators/Analysis.scala labelCornerExtents
graft/operators/Analysis.scala zNormalize
graft/operators/BloomMembership.scala definitelyNew
graft/operators/Bm25.scala mergeIndexes
graft/operators/Bm25.scala readIndex
graft/operators/Bm25.scala topKFromIndex
graft/operators/Bm25.scala topKQueriesFromIndex
graft/operators/Bm25.scala writeIndex
graft/operators/Cdc.scala latestState
graft/operators/Components.scala clusterSummary
graft/operators/Dedup.scala embeddingNearDupsLsh
graft/operators/Dedup.scala exactSubstrRemoveFixpoint
graft/operators/Dedup.scala simhashPairs
graft/operators/Drift.scala bucketCounts
graft/operators/Drift.scala foldDocsIntoStore
graft/operators/Drift.scala foldIntoStore
graft/operators/ExactQuantile.scala quantileAt
graft/operators/IvfPq.scala appendBatch
graft/operators/IvfPq.scala quantizationSelfScorePpm
graft/operators/IvfPq.scala writeIndex
graft/operators/ParaDedup.scala cleanAgainstIndex
graft/operators/PrefixSum.scala runningSumLongKeyed
graft/operators/QualityClassifier.scala linkScalar
graft/operators/QuantileSketch.scala buildWeighted
graft/operators/Sampling.scala weightedSample
graft/sources/Jsonl.scala inferFromSample
graft/sources/KittiSources.scala alignFrames
graft/sources/ShardSink.scala manifestsFromDisk
graft/sources/ShardSink.scala resumeShard
graft/sources/ShardSink.scala writeShards
graft/streaming/CdcStream.scala cdcLatestStreaming
graft/streaming/CorpusIngest.scala driftCard
graft/streaming/CorpusIngest.scala runMaintenance
graft/streaming/EventStreams.scala dedupStreaming
graft/streaming/EventStreams.scala enrichStreaming
graft/streaming/EventStreams.scala intervalJoinStreaming
graft/streaming/EventStreams.scala intervalJoinStreamingOuter
graft/streaming/EventStreams.scala sessionWindowsStreaming
graft/streaming/EventStreams.scala sessionize
graft/streaming/EventStreams.scala sessionizeStreaming
graft/streaming/EventStreams.scala slidingWindowStreaming
graft/streaming/EventStreams.scala tumblingHourlyStreaming
graft/streaming/FreqStream.scala heavyHitterCandidates
graft/streaming/NearDupStream.scala nearDupCandidates
graft/streaming/StreamConfs.scala applyRocksDb
ALLOW
if ! diff -u /tmp/test_only_defs_allow.txt /tmp/test_only_defs_now.txt; then
  echo "TEST-ONLY DEF DRIFT (see diff above)"; exit 1
fi

echo "ROUND CHECK GREEN (incl. plan audit)"
