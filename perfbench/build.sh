#!/bin/bash
# Builds the program (src/main/scala) and the benchmark (perfbench/src) into
# <out>/classes with the Scala compiler that ships with Spark's jars.
# Usage: bash perfbench/build.sh <out-dir> <spark-jars-dir>   (from the repository root)
set -euo pipefail
OUT=$1
JARS=$2
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here" >&2; exit 2; }
compgen -G "$JARS/scala-compiler-*.jar" >/dev/null || { echo "build.sh: no Scala compiler in $JARS" >&2; exit 2; }
rm -rf "$OUT/classes" && mkdir -p "$OUT/classes"
find src/main/scala perfbench/src -name '*.scala' > "$OUT/sources.txt"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$JARS/*" scala.tools.nsc.Main -nowarn \
  -d "$OUT/classes" -classpath "$JARS/*" @"$OUT/sources.txt"
