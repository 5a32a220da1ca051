#!/bin/bash
# Run a graft main class against the compiled classes + Spark jars,
# bypassing sbt's JVM startup. Usage:
#   tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/out
#   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 tools/run.sh graft.Bench
# Compile first: sbt compile (or the tmux sbt shell's `compile`).
set -euo pipefail
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
