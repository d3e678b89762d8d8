#!/bin/bash
# Round-9 scale validation: run the heavy-query chunks at sf0.1 and at
# the 10x corpus (tools/scale_corpus.py output), same qt.sh protocol,
# saving per-chunk bench JSONs under /tmp/scale_r9/.
# Usage: tools/scale_run.sh <chunk-name> <q1,q2,...> [tenx-dir]
# The large corpora need more heap than the suite's 8 g cap: the driver
# heap defaults to three quarters of MemTotal (48 g on a 64 GiB host)
# unless SPARK_DRIVER_MEM is set.
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
: "${SPARK_DRIVER_MEM:=$(awk '/^MemTotal:/ {print int($2 * 3 / 4 / 1048576) "g"}' /proc/meminfo)}"
. "$ROOT/tools/host_env.sh"
set -e
NAME="$1"; QS="$2"; TENX="${3:-/tmp/sfx10}"
TENX="$(readlink -f "$TENX")"
cd "$ROOT" # graft.Bench writes target/bench.json under the working dir
OUT=/tmp/scale_r9
mkdir -p "$OUT"
ADD=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD="$ADD --add-opens=java.base/$p=ALL-UNNAMED"
done
run() { # sfdir tag
  SPARK_GRAFT_ONLY="$QS" SPARK_GRAFT_SF_DIR="$1" \
  java -Xms$SPARK_DRIVER_MEM -Xmx$SPARK_DRIVER_MEM -XX:ReservedCodeCacheSize=1g -XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -XX:NewRatio=1 $ADD \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$ROOT/target/scala-2.13/classes:$SPARK_HOME/jars/*" \
    graft.Bench 2>/dev/null >/dev/null
  cp "$ROOT/target/bench.json" "$OUT/${NAME}_$2.json"
}
run /root/testdata/sf0.1 sf01
run "$TENX" sfx10
echo "[scale_run] $NAME done"
