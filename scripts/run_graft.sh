#!/usr/bin/env bash
# Run a graft main class directly on the compiled classes + Spark jars,
# bypassing sbt (no project-lock contention between concurrent heavy
# runs; same JDK17 add-opens set as build.sbt / spark-submit).
# Usage: scripts/run_graft.sh <mainClass> [args...]
#   SPARK_DRIVER_MEM (default 8g) sizes -Xmx; SPARK_GRAFT_CPUS (default:
#   every processor) is read by graft.Sessions, which also sets the
#   session confs (UI off, UTC, ...).
set -eu
cd "$(dirname "$0")/.."
MAIN=$1; shift
OPENS="java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
java.base/sun.util.calendar"
ADD=""
for p in $OPENS; do ADD="$ADD --add-opens $p=ALL-UNNAMED"; done
# SPARK_EXTRA_OPTS: optional extra -D system properties (SparkConf reads
# spark.* sys-props), e.g. -Dspark.sql.autoBroadcastJoinThreshold=64m for
# scale experiments
exec java $ADD ${SPARK_EXTRA_OPTS:-} \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
