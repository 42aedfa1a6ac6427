#!/usr/bin/env bash
# Run a graft main class in a direct JVM (no sbt lock) with the same
# flags build.sbt's forked run uses. Usage: tools/jrun.sh <MainClass> [args...]
set -euo pipefail
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# default heap: half of MemTotal, clamped to 2-8 GiB
MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)"
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-$MEM}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
