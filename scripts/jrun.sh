#!/bin/bash
# Run a graft main class directly against the compiled classes + Spark jars,
# bypassing sbt (no build-lock contention during optimization iteration).
# Usage: scripts/jrun.sh <mainClass> [args...]   (env passes through)
# GRAFT_CLASSES overrides the classes directory (default: this checkout's
# target/scala-2.13/classes), e.g. to run a parent commit's build.
set -e
GRAFT_CLASSES="${GRAFT_CLASSES:-$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes}"
CLS="$1"; shift
OPENS="java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
java.base/jdk.internal.ref java.base/sun.nio.ch java.base/sun.nio.cs \
java.base/sun.security.action java.base/sun.util.calendar"
FLAGS=""
for p in $OPENS; do FLAGS="$FLAGS --add-opens $p=ALL-UNNAMED"; done
exec java $FLAGS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled="${SPARK_UI:-false}" -Dspark.sql.session.timeZone=UTC \
  -cp "$GRAFT_CLASSES:/opt/spark/jars/*" "$CLS" "$@"
