#!/usr/bin/env bash
# Memory-pressure robustness run: fork graft.Robustness in a 4 GiB G1 JVM
# (local[8]) over the dedup/similarity/text family at sf0.1 and write
# ROBUSTNESS.json. The tight heap forces the spill paths the 100 TB claim
# depends on; any OOM or query failure exits non-zero.
set -euo pipefail
cd "$(dirname "$0")/.."
[ -d target/scala-2.13/classes ] || { echo "run 'sbt compile' first" >&2; exit 2; }
SPARK_DRIVER_MEM="${ROBUSTNESS_HEAP:-4g}" \
JAVA_TOOL_OPTIONS="-XX:+UseG1GC${JAVA_TOOL_OPTIONS:+ $JAVA_TOOL_OPTIONS}" \
  exec scripts/jrun.sh graft.Robustness "$@"
