#!/usr/bin/env bash
# Compiles the library (src/main/scala) together with the benchmark
# (perfbench/src) using the Scala compiler shipped in Spark's jars, so
# the build needs neither sbt nor a network.
# Usage, from the repository root:
#   bash perfbench/build.sh <classes-dir> <spark-jars-dir>
set -euo pipefail
out="$1"
jars="$2"
[ -d src/main/scala ] || { echo "build: no src/main/scala here" >&2; exit 2; }
rm -rf "$out"
mkdir -p "$out"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out/sources.txt"
java -Xmx2g -Xss8m -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -d "$out" -classpath "$jars/*" @"$out/sources.txt"
