#!/bin/bash
# Page-cache attribution for the sf100 curate idle-vs-idle spread
# (round-15 verdict item 2): run q_curate_e2e_scale in four FRESH JVMs —
# cold cache (after drop_caches), warm, cold again, warm again — so the
# JVM/codegen startup cost is identical across arms and the only varied
# factor is the page-cache state of /tmp/graft-sf100.
set -u
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=$(for p in java.lang java.lang.invoke java.lang.reflect java.io \
  java.net java.nio java.util java.util.concurrent \
  java.util.concurrent.atomic jdk.internal.ref sun.nio.ch sun.nio.cs \
  sun.security.action sun.util.calendar; do
  echo -n "--add-opens=java.base/$p=ALL-UNNAMED "; done)
OUT=${1:-/tmp/cache_attrib.log}
: > "$OUT"
run() {
  echo "== arm: $1  loadavg: $(cut -d' ' -f1 /proc/loadavg)  cached_kb: $(grep ^Cached: /proc/meminfo | awk '{print $2}')" >> "$OUT"
  java -Xms8g -Xmx8g $OPENS -Dspark.ui.enabled=false \
    -Dspark.sql.session.timeZone=UTC -cp "$CP" \
    graft.Profile /tmp/graft-sf100 q_curate_e2e_scale 2>/dev/null \
    | grep "wall" >> "$OUT"
}
for i in 1 2; do
  sync; echo 3 > /proc/sys/vm/drop_caches
  run "cold$i"
  run "warm$i"
done
echo "done" >> "$OUT"
