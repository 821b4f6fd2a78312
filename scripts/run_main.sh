#!/bin/bash
# Run a graft main class against the compiled classes without sbt's
# startup/lock overhead (sbt remains the build), e.g. the query profile:
#   scripts/run_main.sh graft.tools.Profile <sfDir> <q1,q2,...> [outDir]
# Usage: scripts/run_main.sh <mainClass> [args...]
# Env: SPARK_DRIVER_MEM (default 24g), SPARK_GRAFT_CPUS (default: all
# cores) and Spark's SPARK_LOCAL_DIRS (shuffle scratch).
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
