#!/bin/bash
# Run a graft main class directly (after `sbt compile`), with the same
# JVM flags build.sbt uses for forked runs (the Spark confs are the
# session builder's, graft.pipeline.RuntimeConfig). Usage:
#   tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/vout
#   SPARK_GRAFT_CPUS=32 tools/run.sh graft.Bench
cd "$(dirname "$0")/.." || exit 1
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Duser.timezone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" \
  -cp "target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*" \
  "$@"
