#!/bin/bash
# Direct JVM runner for graft mains (no sbt startup overhead).
# Usage: tools/run.sh <mainClass> [args...]
# Env: SPARK_GRAFT_CPUS (default 8), SPARK_DRIVER_MEM (the JVM's -Xmx;
#      default half of the host's physical memory, from /proc/meminfo)
set -e
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
if [ -z "$SPARK_DRIVER_MEM" ]; then
  SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ { print int($2 / 2048) "m" }' /proc/meminfo)"
fi
MAIN="$1"; shift
exec java $ADD_OPENS \
  -Xmx"$SPARK_DRIVER_MEM" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
