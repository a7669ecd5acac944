#!/bin/bash
# Dev-only standalone launcher: run a graft main class directly from the
# sbt-compiled classes without taking the sbt project lock (so sweeps can
# run while `sbt test` owns the build). Mirrors build.sbt's forked-JVM
# flags exactly: the JDK-17 --add-opens set Spark 4 needs outside
# spark-submit, UTC session TZ, UI off, and the heap: SPARK_DRIVER_MEM, or
# half of MemTotal clamped to 2–8g (the Tier-1 test formula).
# src/main/resources comes first on the classpath so edited source fixtures
# win over stale copies in target/.
#
# Usage: scripts/run_graft.sh <mainClass> [args...]
#   e.g. scripts/run_graft.sh graft.Verify /root/testdata/sf0.01 /tmp/out
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"$HEAP" \
  -cp "src/main/resources:target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
