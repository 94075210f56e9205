#!/bin/bash
# Local bench runner — the EXACT bench envelope (graft.Envelope sets the
# Spark settings; the heap matches build.sbt's `run / javaOptions`),
# without sbt's logger wrapping stdout.
# Usage:
#   scripts/bench.sh                          # full tree, sf0.1, 32 cpus
#   SPARK_GRAFT_QUERIES=q_adamic_adar scripts/bench.sh   # subset profiling
# Per-query record (build/plan/exec, jobs, busy/gap, top stages):
# BENCH_METRICS_c<cpus>.json.
# Requires `sbt compile` to have populated target/scala-2.13/classes.
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"
exec java $ADD_OPENS \
  "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Bench
