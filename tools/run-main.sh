#!/bin/bash
# Run a graft main class with plain java (no sbt target lock), mirroring
# build.sbt's forked-run JVM options. Usage:
#   tools/run-main.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
# build.sbt's default heap: min(24g, physical RAM / 2), in MiB;
# SPARK_DRIVER_MEM overrides it
HEAP_MB=$(awk '/^MemTotal:/ {m = int($2 / 2048); print (m > 24576 ? 24576 : m)}' /proc/meminfo)
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-${HEAP_MB}m}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
