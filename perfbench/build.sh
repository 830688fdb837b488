#!/usr/bin/env bash
# Build file of the benchmark package: compiles the engine sources
# (src/main/scala of the checkout) together with the benchmark harness
# (perfbench/src) into one class directory, with the Scala compiler
# that ships in the Spark distribution's jars. No dependency resolution
# and no sbt state: the only inputs are the two source trees and the
# Spark jars.
#
#   bash perfbench/build.sh [out_dir]      # default .bench_build/perfbench
#
# The output directory holds classes/ and a stamp of the source digest;
# a rebuild happens only when a source file changed.
set -euo pipefail
root="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
out="${1:-$root/.bench_build/perfbench}"
jars="${SPARK_HOME:-/opt/spark}/jars"
engine="$root/src/main/scala"
bench="$root/perfbench/src"

[ -d "$engine" ] || { echo "build: engine sources $engine not found" >&2; exit 3; }
[ -d "$jars" ] || { echo "build: Spark jars $jars not found" >&2; exit 3; }

mkdir -p "$out"
list="$out/sources.txt"
find "$engine" "$bench" -name '*.scala' | LC_ALL=C sort > "$list"
# digest of names relative to the checkout and contents: a copy of the
# same tree elsewhere reuses the build
digest="$(cd "$root" && sed "s|^$root/||" "$list" | xargs -d '\n' sha256sum | sha256sum | cut -d' ' -f1)"
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$digest" ] && [ -d "$out/classes" ]; then
  exit 0
fi
rm -rf "$out/classes" "$out/stamp"
mkdir -p "$out/classes"
java -Xss8m -Xmx2g -XX:-UsePerfData -Djava.io.tmpdir="$out" -cp "$jars/*" scala.tools.nsc.Main \
  -usejavacp -nowarn -release 17 -d "$out/classes" "@$list"
echo "$digest" > "$out/stamp"
