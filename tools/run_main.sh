#!/bin/bash
# Run a graft main in an ISOLATED JVM (same module flags build.sbt forks with).
# Usage: tools/run_main.sh graft.Verify <sf> <out>   (after `sbt compile`)
# Heap: $SPARK_DRIVER_MEM, else half of MemTotal clamped to 2-8 g (the
# rule the tier-1 test command in ROADMAP.md sets SPARK_DRIVER_MEM with).
MAIN="$1"; shift
REPO="$(cd "$(dirname "$0")/.." && pwd)"
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
exec java \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$MEM" \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
