#!/usr/bin/env bash
# Build file of the benchmark: compiles the program's sources
# (src/main/scala at the repository root) together with the benchmark's
# own (perfbench/src) into <out>/classes, with the Scala compiler that
# ships in Spark's jars. No sbt, no dependency resolution.
#
#   bash perfbench/build.sh <out_dir>
set -euo pipefail
here="$(cd "$(dirname "$0")" && pwd)"
root="$(dirname "$here")"
out="${1:?usage: build.sh <out_dir>}"
spark_home="${SPARK_HOME:-$(dirname "$(dirname "$(command -v spark-submit)")")}"
jars="$spark_home/jars"
if [ ! -d "$root/src/main/scala" ]; then
  echo "build.sh: no program sources under $root/src/main/scala" >&2
  exit 2
fi
ls "$jars"/scala-compiler-*.jar >/dev/null
mkdir -p "$out"
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
find "$root/src/main/scala" "$here/src" -name '*.scala' | sort > "$out/sources.txt"
mkdir -p "$out/tmp"
java -Xss8m -Xmx3g -XX:-UsePerfData -Djava.io.tmpdir="$out/tmp" \
  -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out/classes.tmp" "@$out/sources.txt"
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
