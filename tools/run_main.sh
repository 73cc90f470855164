#!/bin/bash
# Run an arbitrary graft main class in a fresh standalone JVM (8 GiB
# ParallelGC by default, the bench's flags) — keeps ALL stdout
# (breadcrumb JSON lines included) and routes stderr to a file. The one
# JVM launcher: standalone_bench.sh and run_query_debug.sh call it.
# Usage:
#   tools/run_main.sh <mainClass> [args...]
# Env: SPARK_DRIVER_MEM, SPARK_GRAFT_CPUS, SPARK_GRAFT_GC,
#      SPARK_GRAFT_JAVA_OPTS, SPARK_GRAFT_SF_DIR (read by the mains),
#      RUN_MAIN_ERRF (stderr file, default /tmp/run_main.err),
#      RUN_MAIN_CP (classes dir, default target/scala-2.13/classes —
#      long-running attributed probes pass a FROZEN snapshot dir so a
#      later sbt compile can't swap lazily-loaded classes mid-run).
set -u
cd "$(dirname "$0")/.."
MAIN="$1"; shift
CP="${RUN_MAIN_CP:-target/scala-2.13/classes}:/opt/spark/jars/*"
MEM="${SPARK_DRIVER_MEM:-8g}"
GC="${SPARK_GRAFT_GC:-ParallelGC}"
ERRF="${RUN_MAIN_ERRF:-/tmp/run_main.err}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
java $ADD_OPENS -Xmx"$MEM" -Xms"$MEM" -XX:ReservedCodeCacheSize=512m \
  "-XX:+Use$GC" -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  ${SPARK_GRAFT_JAVA_OPTS:-} \
  -cp "$CP" "$MAIN" "$@" 2> "$ERRF"
