#!/bin/bash
# Run a graft main against the compiled classes without sbt (avoids the
# sbt project lock so data generation / benches can run while tests do).
# Usage: MEM=8g tools/run-main.sh graft.Bench [args...]
# XMS defaults to MEM: a pinned heap keeps explicit GCs (the bench's
# between-query drain) from uncommitting pages that the next query then
# re-faults in — measured as a 1.3-4x penalty on early bench entries.
set -euo pipefail
MEM="${MEM:-8g}"
XMS="${XMS:-$MEM}"
CLASSES=/root/repo/target/scala-2.13/classes
# test-classes carries the hermetic RESP server double for
# graft.run.RedisRehearsal; harmless for mains that don't need it
CLASSES="$CLASSES:/root/repo/target/scala-2.13/test-classes"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
         java.base/java.lang.reflect java.base/java.io java.base/java.net \
         java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs \
         java.base/sun.security.action java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java -Xmx"$MEM" -Xms"$XMS" $ADD_OPENS \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
