#!/bin/bash
# Build file of the lake benchmark: compiles the engine's sources
# (src/main/scala) together with the benchmark's own (lakebench/src)
# into lakebench/.build/lakebench.jar with the Scala compiler that ships
# in Spark's jars. Run from the checkout root. A build whose sources hash to
# the stamp of the last build is skipped. Needs SPARK_HOME (run.py sets it).
set -euo pipefail
bench=lakebench
out=$bench/.build
jars="${SPARK_HOME:-}/jars"

if [ ! -d src/main/scala/graft ]; then
  echo "build: no engine sources at src/main/scala/graft (run from the checkout root)" >&2
  exit 2
fi
if [ ! -d "$jars" ]; then
  echo "build: no Spark jars at '$jars'; set SPARK_HOME" >&2
  exit 2
fi

sources=$(find src/main/scala $bench/src -name '*.scala' | LC_ALL=C sort)
stamp=$(cat $sources | sha256sum | cut -d' ' -f1)
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ] && [ -f "$out/lakebench.jar" ]; then
  exit 0
fi

rm -rf "$out/classes" "$out/stamp" "$out/lakebench.jar" "$out/classes.jsa"
mkdir -p "$out/classes"
# shellcheck disable=SC2086
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn -deprecation:false \
  -d "$out/classes" -cp "$jars/*" $sources >&2
# a jar, not a directory: the JVM's class-data-sharing archive (run.py) takes jars only
jar cf "$out/lakebench.jar" -C "$out/classes" .
rm -rf "$out/classes"
echo "$stamp" > "$out/stamp"
