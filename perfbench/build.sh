#!/usr/bin/env bash
# Build file of the benchmark: compiles graft's main sources, then the
# benchmark driver in perfbench/scala against them, with the Scala
# compiler that ships among Spark's jars (no sbt, nothing fetched).
#
#   bash perfbench/build.sh OUT_DIR SPARK_JARS_DIR    (from the repo root)
#
# Writes OUT_DIR/classes and OUT_DIR/bench. A stamp of the sources' hash
# makes a second call with unchanged sources a no-op.
set -euo pipefail
out="$1"
jars="$2"
srcs=$(find src/main/scala perfbench/scala -name '*.scala' | LC_ALL=C sort)
stamp=$(cat $srcs perfbench/build.sh | sha256sum | cut -d' ' -f1)
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out/classes" "$out/bench" "$out/stamp"
mkdir -p "$out/classes" "$out/bench"
scalac() { java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn "$@"; }
scalac -d "$out/classes" -classpath "$jars/*" $(find src/main/scala -name '*.scala')
if [ -d src/main/resources ]; then cp -r src/main/resources/. "$out/classes/"; fi
scalac -d "$out/bench" -classpath "$out/classes:$jars/*" $(find perfbench/scala -name '*.scala')
echo "$stamp" > "$out/stamp"
