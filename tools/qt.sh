#!/bin/bash
# Solo bench: tools/qt.sh <q1,q2,...> [sfDir] — runs graft.Bench on the
# compiled classes for just the named queries (same toRdd.count + interleaved
# median-of-3 protocol as the driver) and prints the per-query medians.
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
. "$ROOT/tools/host_env.sh"
QS="$1"; SF="${2:-/root/testdata/sf0.1}"
SF="$(readlink -f "$SF")"
cd "$ROOT" # graft.Bench writes target/bench.json under the working dir
ADD=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD="$ADD --add-opens=java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_ONLY="$QS" SPARK_GRAFT_SF_DIR="$SF" \
java -Xms$SPARK_DRIVER_MEM -Xmx$SPARK_DRIVER_MEM -XX:ReservedCodeCacheSize=1g -XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -XX:NewRatio=1 $ADD $GRAFT_OPTS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:$SPARK_HOME/jars/*" \
  graft.Bench 2>/dev/null >/dev/null
python3 -c "
import json
d = json.load(open('$ROOT/target/bench.json'))
for k, v in d['queries'].items():
    m = d['queries_min'].get(k)
    c = d.get('queries_cpu', {}).get(k)
    cpu = f', cpu {c:.3f}' if c is not None else ''
    extra = f' (min {m:.3f}{cpu})' if m is not None else ' (one-time shared build)'
    print(f'{k}: {v:.3f}s{extra}')
print('errors:', d['errors'], '| env:', d.get('env'), 'loadavg_initial:', d.get('loadavg_initial'))
"
