#!/bin/sh
# Compiles the program (src/main/scala) and this harness with the Scala
# compiler that ships with Spark. No build tool is involved, so nothing of
# sbt runs in or around the benchmark's timed windows.
#
# Usage: perfbench/harness/build.sh <out_dir>   (run from the repo root)
#   <out_dir>/classes   the program's classes
#   <out_dir>/harness   the harness's classes
set -eu
out="$1"
jars="${SPARK_JARS:-/opt/spark/jars}"
cp=$(ls "$jars"/*.jar | tr '\n' ':')
scalac() {
  java -XX:-UsePerfData -Xmx2g -Xss8m -cp "$jars/scala-compiler-2.13.17.jar:$jars/scala-library-2.13.17.jar:$jars/scala-reflect-2.13.17.jar" \
    scala.tools.nsc.Main -nowarn "$@"
}
rm -rf "$out/classes" "$out/harness"
mkdir -p "$out/classes" "$out/harness"
scalac -d "$out/classes" -classpath "$cp" $(find src/main/scala -name '*.scala' | sort)
scalac -d "$out/harness" -classpath "$out/classes:$cp" $(find perfbench/harness/src -name '*.scala' | sort)
