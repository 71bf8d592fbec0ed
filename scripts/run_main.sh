#!/bin/bash
# Launch a graft main against the compiled classes without sbt (so a
# long sbt test run doesn't serialize with corpus generation / bench
# runs). Launches the classes of the checkout this script sits in.
# Mirrors build.sbt's fork JVM options.
# Usage: run_main.sh <mainClass> [args...]   (env knobs pass through)
set -euo pipefail
MAIN="$1"; shift
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$(ls -d /opt/spark/jars)/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" \
  -cp "$CP" "$MAIN" "$@"
