#!/bin/bash
# Run a graft main class directly on the compiled classes (no sbt JVM
# overhead): scripts/run_tool.sh <MainClass> [args...]
# MEM=48g scripts/run_tool.sh graft.tools.ScaleRun ...
set -euo pipefail
CP="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes"
for j in /opt/spark/jars/*.jar; do CP="$CP:$j"; done
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"${MEM:-48g}" -XX:+UseG1GC -XX:ReservedCodeCacheSize=512m \
  -cp "$CP" "$@"
