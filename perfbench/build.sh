#!/usr/bin/env bash
# Builds the benchmark harness together with the program it drives.
#
# Compiles the program's sources (src/main/scala) and the harness
# (perfbench/harness) with the Scala compiler that ships in Spark's jar
# directory, into <out>/classes. Run from the repository root:
#
#   bash perfbench/build.sh <out-dir> <spark-jars-dir>
set -euo pipefail
out="$1"
jars="$2"
[ -d src/main/scala ] || { echo "build: src/main/scala not found (run from the repo root)" >&2; exit 2; }
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
find src/main/scala perfbench/harness -name '*.scala' | sort > "$out/sources.txt"
java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes.tmp" -classpath "$jars/*" @"$out/sources.txt"
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
