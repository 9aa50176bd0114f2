#!/usr/bin/env bash
# Executor-loss fault injection (see graft.FaultDemo): connected
# components on a 400k-vertex chain under local-cluster[2,2,1024], one
# executor kill -9'd mid-loop, in both pin modes:
#   local    -> localCheckpoint blocks die with the executor; truncated
#               lineage means the loop MUST fail
#   reliable -> spark.graft.checkpointDir round state survives; the
#               relaunched executor re-reads it and the loop completes
# Usage: scripts/fault_demo.sh [killAfterMs] [nVertices]
set -euo pipefail
cd "$(dirname "$0")/.."
KILL_MS="${1:-6000}"
N="${2:-400000}"
sbt -batch package
JAR="$(ls target/scala-2.13/*.jar | head -1)"
# spark.jars ships the graft classes to the executor JVMs, as in
# scripts/verify_local_cluster.sh
for mode in local reliable; do
  SPARK_SCALA_VERSION=2.13 SPARK_GRAFT_EXTRA_CONF="spark.jars=$JAR" \
    sbt -batch "runMain graft.FaultDemo $mode $KILL_MS $N" 2>&1 \
    | grep -E '"metric"|\[fault\]' || true
done
