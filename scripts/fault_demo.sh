#!/usr/bin/env bash
# Executor-loss fault injection (see graft.FaultDemo): connected
# components on a 400k-vertex chain under local-cluster[2,2,1024], one
# executor kill -9'd at the first job after the loop's first pin, in
# both pin modes:
#   local    -> localCheckpoint blocks die with the executor; truncated
#               lineage means the loop MUST fail
#   reliable -> spark.graft.checkpointDir round state survives; the
#               relaunched executor re-reads it and the loop completes
# Exits non-zero unless local mode reports "failed" and reliable mode
# reports "ok" (every label correct), each after a kill.
# Usage: scripts/fault_demo.sh [nVertices]
set -euo pipefail
cd "$(dirname "$0")/.."
N="${1:-400000}"
sbt -batch package
JAR="$(ls target/scala-2.13/*.jar | head -1)"
status=0
# spark.jars ships the graft classes to the executor JVMs, as in
# scripts/verify_local_cluster.sh
for mode in local reliable; do
  out="$(SPARK_SCALA_VERSION=2.13 SPARK_GRAFT_EXTRA_CONF="spark.jars=$JAR" \
    sbt -batch "runMain graft.FaultDemo $mode $N" 2>&1 \
    | grep -E '"metric"|\[fault\]' || true)"
  echo "$out"
  line="$(echo "$out" | grep '"metric"' || true)"
  case "$mode" in
    local) want='"outcome": "failed"' ;;
    reliable) want="\"outcome\": \"ok\", \"labels\": $N," ;;
  esac
  if [[ "$line" == *'"killed": true'* && "$line" == *"$want"* ]]; then
    echo "[fault_demo] $mode: as expected"
  else
    echo "[fault_demo] $mode: expected a kill and $want" >&2
    status=1
  fi
done
exit "$status"
