#!/usr/bin/env bash
# Compiles the library (src/main/scala) and the benchmark harness
# (benchmark/src) with the Scala compiler that ships in the Spark jars.
#   usage: benchmark/build.sh <out-classes-dir>   (run from the repo root)
set -euo pipefail
out="$1"
jars="${SPARK_JARS:-${SPARK_HOME:-}/jars}"
[ -d src/main/scala ] || { echo "build: src/main/scala not found" >&2; exit 2; }
ls "$jars"/scala-compiler-*.jar >/dev/null 2>&1 || { echo "build: no Scala compiler under $jars" >&2; exit 2; }
rm -rf "$out.tmp"; mkdir -p "$out.tmp"
find src/main/scala benchmark/src -name '*.scala' | sort > "$out.tmp.sources"
java -Xmx3g -Xss8m -cp "$jars/*" scala.tools.nsc.Main -nowarn -nobootcp \
  -classpath "$jars/*" -d "$out.tmp" @"$out.tmp.sources"
rm -f "$out.tmp.sources"
rm -rf "$out"; mv "$out.tmp" "$out"
