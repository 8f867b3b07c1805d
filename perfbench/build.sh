#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main/scala) and the
# benchmark (perfbench/src) with the Scala compiler that ships among the
# Spark jars, into one class directory.
#
#   bash perfbench/build.sh <spark-jars-dir> <out-dir>
#
# Run from the root of the repository.
set -euo pipefail

jars=$1
out=$2
[ -d src/main/scala/graft ] || { echo "build.sh: no program sources under src/main/scala" >&2; exit 2; }
compiler=$(ls "$jars"/scala-compiler-2.13.*.jar)
library=$(ls "$jars"/scala-library-2.13.*.jar)
reflect=$(ls "$jars"/scala-reflect-2.13.*.jar)
classpath=$(printf '%s:' "$jars"/*.jar)

rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.tmp.sources"
java -Xmx2g -Xss16m -cp "$compiler:$library:$reflect" scala.tools.nsc.Main \
  -nowarn -d "$out.tmp" -classpath "$classpath" @"$out.tmp.sources"
rm -f "$out.tmp.sources"
rm -rf "$out"
mv "$out.tmp" "$out"
