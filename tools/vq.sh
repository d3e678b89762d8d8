#!/bin/bash
# Subset correctness check: tools/vq.sh <q1,q2,...> [sfDir]
# Runs graft.Verify on the compiled classes for the named queries, then the
# DuckDB compare (tools/compare.py) against the same fixture dir.
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
. "$ROOT/tools/host_env.sh"
QS="$1"; SF="${2:-/root/testdata/sf0.01}"; OUT=/tmp/graft_verify
ADD=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD="$ADD --add-opens=java.base/$p=ALL-UNNAMED"
done
rm -rf "$OUT"
SPARK_GRAFT_ONLY="$QS" \
java -Xms$SPARK_DRIVER_MEM -Xmx$SPARK_DRIVER_MEM -XX:ReservedCodeCacheSize=1g -XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -XX:NewRatio=1 $ADD \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:$SPARK_HOME/jars/*" \
  graft.Verify "$SF" "$OUT" 2>/dev/null | grep "\[verify\]"
python3 "$ROOT/tools/compare.py" "$SF" "$OUT"
