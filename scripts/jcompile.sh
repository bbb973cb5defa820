#!/bin/bash
# Incrementally compile given main-source files straight into the classes
# directory with the Spark-shipped scalac — sbt-free iteration while a long
# sbt task holds the build lock.
# Usage: scripts/jcompile.sh src/main/scala/graft/Foo.scala [...]
# GRAFT_CLASSES overrides the classes directory (default: this checkout's
# target/scala-2.13/classes), the same default scripts/jrun.sh uses.
set -e
GRAFT_CLASSES="${GRAFT_CLASSES:-$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes}"
exec java -cp "/opt/spark/jars/*" scala.tools.nsc.Main \
  -usejavacp -classpath "$GRAFT_CLASSES" -d "$GRAFT_CLASSES" "$@"
