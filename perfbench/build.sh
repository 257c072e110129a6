#!/usr/bin/env bash
# Build file of the benchmark: compiles the engine sources
# (src/main/scala) and the benchmark sources (perfbench/src) with the
# Scala compiler that ships in the Spark jars, into <out>/classes.
# Run from the repository root:  bash perfbench/build.sh <out>
set -euo pipefail
out="${1:?usage: build.sh <out-dir>}"
spark_jars="${SPARK_HOME:-}/jars"
[ -d src/main/scala/graft ] || { echo "build.sh: no engine sources under src/main/scala" >&2; exit 2; }
[ -n "${SPARK_HOME:-}" ] && [ -d "$spark_jars" ] || { echo "build.sh: set SPARK_HOME to a Spark installation" >&2; exit 2; }
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out/sources.txt"
java -XX:-UsePerfData -Xss8m -Xmx2g -Djava.io.tmpdir="$out" -cp "$spark_jars/*" \
  scala.tools.nsc.Main -nowarn -d "$out/classes.tmp" -cp "$spark_jars/*" "@$out/sources.txt"
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
