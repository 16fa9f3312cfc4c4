#!/bin/bash
# Run a graft main class against this checkout's compiled classes and the
# Spark jars that build.sbt names as unmanagedBase, bypassing sbt (so tools
# can run while sbt is busy).
# Usage: tools/run.sh [-mem 4g] graft.Verify args...
# The heap is -mem, else $SPARK_DRIVER_MEM, else build.sbt's default for
# forked JVMs: 24g or half of the machine's memory, whichever is less.
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
HALF_GIB=$(( $(getconf _PHYS_PAGES) * $(getconf PAGESIZE) / 2 / 1073741824 ))
MEM="${SPARK_DRIVER_MEM:-$(( HALF_GIB < 1 ? 1 : (HALF_GIB > 24 ? 24 : HALF_GIB) ))g}"
if [ "$1" = "-mem" ]; then MEM=$2; shift 2; fi
JARS=$(sed -n 's/^unmanagedBase := file("\(.*\)").*/\1/p' "$ROOT/build.sbt")
CP="$ROOT/target/scala-2.13/classes:$JARS/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java -Xmx$MEM $OPENS -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC -cp "$CP" "$@"
