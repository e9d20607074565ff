#!/usr/bin/env bash
# Build file of the benchmark: compiles the program's sources
# (src/main/scala, the sources build.sbt compiles) together with the
# benchmark's own sources (perfbench/src/main/scala) into one class
# directory. The Scala 2.13 compiler and Spark ship in the jar directory
# that build.sbt compiles against (its unmanagedBase); that directory is
# written to <out_dir>.jars for the run.
#
# Usage: bash perfbench/build.sh <out_dir>   (run from the repository root)
set -euo pipefail
out=$1
if [ ! -d src/main/scala/graft ] || [ ! -f build.sbt ]; then
  echo "build.sh: no program sources under src/main/scala/graft" >&2
  exit 2
fi
jars=$(sed -n 's/^unmanagedBase := file("\(.*\)").*/\1/p' build.sbt)
if [ ! -d "$jars" ]; then
  echo "build.sh: no jar directory from build.sbt's unmanagedBase" >&2
  exit 2
fi
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/src/main/scala -name '*.scala' | sort > "$out.tmp/sources.txt"
java -Xmx2g -Xss16m -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.tmp" -classpath "$jars/*" @"$out.tmp/sources.txt"
if [ -d src/main/resources ]; then cp -r src/main/resources/. "$out.tmp/"; fi
rm -rf "$out"
mv "$out.tmp" "$out"
echo "$jars" > "$out.jars"
