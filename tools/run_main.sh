#!/bin/bash
# Run a graft main directly on the compiled classes + /opt/spark/jars,
# bypassing sbt (avoids the project lock while sbt test runs, and skips
# sbt JVM startup). Usage: tools/run_main.sh graft.ScaleGen arg1 arg2 ...
# SPARK_DRIVER_MEM sizes the single JVM; by default half of MemTotal,
# clamped to 2-8 g (the tier-1 test command's sizing).
set -euo pipefail
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
MAIN="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
if [ -z "${SPARK_DRIVER_MEM:-}" ]; then
  SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
    2>/dev/null </proc/meminfo || echo 2g)"
fi
exec java $ADD_OPENS \
  -Xmx"$SPARK_DRIVER_MEM" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
