#!/bin/bash
# Run a graft main class against this checkout's sbt-compiled classes
# without the sbt lock: tools/run.sh graft.Verify <sf_dir> <out_dir>
set -e
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
# Heap: SPARK_DRIVER_MEM, else half of MemTotal clamped to 2–8 g (the rule
# the test command and perfbench use).
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
# GC: the featurize hot loop allocates ~MBs per image (decode buffers,
# rasters, descriptor arrays). ParallelGC's stop-the-world pauses measured
# ~25% of bench wall clock (300ms young + multi-second full GCs) — a serial
# fraction that caps N→4N scaling. G1 keeps pauses bounded; override with
# GRAFT_GC_OPTS if needed.
exec java $ADD_OPENS ${GRAFT_EXTRA_JAVA_OPTS:-} -Xmx$HEAP \
  ${GRAFT_GC_OPTS:--XX:+UseG1GC -XX:MaxGCPauseMillis=100} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$@"
