#!/usr/bin/env bash
# Compiles the program (src/main/scala) and the benchmark harness
# (perfbench/harness) with the Scala compiler that ships among Spark's
# jars, and packs the classes into one jar (a jar, not a directory, so the
# JVM can keep them in a class-data-sharing archive).
#
# Usage, from the repository root: perfbench/build.sh <jar> <spark-jars-dir>
set -euo pipefail
jar_out="$1"
jars="$2"
if [ ! -d src/main/scala ]; then
  echo "build: no program sources (src/main/scala) under $(pwd)" >&2
  exit 2
fi
classes="$jar_out.classes"
rm -rf "$classes" "$jar_out"
mkdir -p "$classes"
find src/main/scala perfbench/harness -name '*.scala' | sort > "$classes.sources"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$classes" -cp "$jars/*" @"$classes.sources"
jar cf "$jar_out" -C "$classes" .
rm -rf "$classes" "$classes.sources"
