#!/bin/bash
# Dev harness: run any graft main against compiled classes without sbt
# startup cost. Usage: scripts/run_main.sh <MainClass> [args...]
# Heap via SPARK_DRIVER_MEM (default 8g), as in build.sbt.
set -e
if [ $# -eq 0 ]; then
  echo "usage: scripts/run_main.sh <MainClass> [args...]" >&2
  echo "  e.g. scripts/run_main.sh DevStages q153_release_gen2" >&2
  exit 2
fi
cd "$(dirname "$0")/.."
MAIN=$1; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "graft.$MAIN" "$@"
