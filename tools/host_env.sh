#!/bin/bash
# Sourced by the launch scripts: sizes the engine to the host it runs on
# unless the caller already set the knobs. Cores = nproc; driver heap =
# half of MemTotal, clamped to 2–8 GiB (the same rule as the test suite);
# Spark's jars come from $SPARK_HOME, else from next to spark-submit.
: "${SPARK_GRAFT_CPUS:=$(nproc)}"
: "${SPARK_DRIVER_MEM:=$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
if [ -z "$SPARK_HOME" ]; then
  SUBMIT="$(command -v spark-submit)" || {
    echo "host_env.sh: set SPARK_HOME or put spark-submit on PATH" >&2
    exit 1
  }
  SPARK_HOME="$(dirname "$(dirname "$(readlink -f "$SUBMIT")")")"
fi
export SPARK_GRAFT_CPUS SPARK_DRIVER_MEM SPARK_HOME
