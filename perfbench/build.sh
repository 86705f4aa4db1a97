#!/usr/bin/env bash
# Build file of the benchmark. Compiles graft's main sources together with
# the benchmark harness (perfbench/src) using the Scala compiler that ships
# in the Spark distribution's jars, then generates the benchmark's batch
# inputs with graft.GenData. Run from the repository root:
#   bash perfbench/build.sh OUT_DIR
# Spark's jars come from $SPARK_HOME/jars, or else from the directory the
# repository's build.sbt names as its unmanagedBase.
set -euo pipefail
out="${1:?usage: bash perfbench/build.sh OUT_DIR}"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here; run from the repository root" >&2; exit 2; }
if [ -n "${SPARK_HOME:-}" ] && [ -d "$SPARK_HOME/jars" ]; then
  jars="$SPARK_HOME/jars"
else
  jars=$(sed -n 's/^unmanagedBase := file("\(.*\)").*/\1/p' build.sbt)
fi
[ -d "$jars" ] || { echo "build.sh: Spark jars not found" >&2; exit 2; }

rm -rf "$out/classes" "$out/data"
mkdir -p "$out/classes"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out/sources.txt"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out/classes" @"$out/sources.txt"

# Batch inputs: the repository's scale-0.01 test tables (perfbench/data),
# copied once per sweep directory so every measured pass meets a directory
# the engine has not fitted models on yet.
for d in warm p0 p1; do
  mkdir -p "$out/data/sf0.01/$d"
  cp perfbench/data/sf0.01/*.parquet "$out/data/sf0.01/$d/"
done
