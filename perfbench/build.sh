#!/usr/bin/env bash
# Build file of the benchmark package: compiles the library sources
# (src/main/scala) together with the harness (perfbench/harness) into
# <out>/classes with the Scala compiler that ships in the Spark install.
# Run from the repository root:  bash perfbench/build.sh <out>
set -euo pipefail
out=${1:?usage: build.sh <out>}
jars="${SPARK_HOME:-/opt/spark}/jars"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala under $PWD" >&2; exit 2; }
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
find src/main/scala perfbench/harness -name '*.scala' | sort > "$out/sources.txt"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes.tmp" -classpath "$jars/*" "@$out/sources.txt"
cp -r src/main/resources/. "$out/classes.tmp/"
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
