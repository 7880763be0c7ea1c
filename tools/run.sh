#!/bin/bash
# Run a graft main class directly on the compiled classes (fast path, no sbt).
# Usage: tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/vout
#        SPARK_GRAFT_SF_DIR=... tools/run.sh graft.Bench
# Spark settings come from graft.GraftSession; the Spark jar directory and the
# --add-opens packages are build.sbt's unmanagedBase and jdk17AddOpens.
set -e
CLS="$1"; shift
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
JARS=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")
OPENS=$(tr '\n' ' ' < "$ROOT/build.sbt" \
  | sed 's/.*val jdk17AddOpens = Seq(\([^)]*\)).*/\1/' \
  | grep -o '"[^"]*"' | tr -d '"' | sed 's/.*/--add-opens &=ALL-UNNAMED/')
exec java $OPENS \
  -XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "${GRAFT_CLASSES:-$ROOT/target/scala-2.13/classes:$ROOT/target/scala-2.13/test-classes}:$JARS/*" \
  "$CLS" "$@"
