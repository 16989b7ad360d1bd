#!/bin/bash
# Run a graft main directly with java — no sbt lock, no ~20 s sbt startup.
# Usage: tools/run_main.sh <MainClass> [args...]
# Env: SPARK_DRIVER_MEM (default 8g), SPARK_GRAFT_CPUS (default 4),
#      SPARK_GRAFT_SF_DIR, SPARK_GRAFT_REPS, SPARK_GRAFT_BUDGET_SEC (Bench),
#      SPARK_GRAFT_EXPLAIN (BenchOne prints plans instead of running).
# Requires target/scala-2.13/classes to be current (sbt -batch compile).
MEM="${SPARK_DRIVER_MEM:-8g}"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
MAIN="$1"; shift
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Xmx"$MEM" \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "graft.$MAIN" "$@"
