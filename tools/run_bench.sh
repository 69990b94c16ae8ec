#!/bin/bash
# Full driver-protocol bench capture (bare java, add-opens flags from build.sbt).
cd /root/repo
FLAGS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)} \
SPARK_GRAFT_BENCH_OUT=${SPARK_GRAFT_BENCH_OUT:-bench_out.json} \
SPARK_GRAFT_BENCH_SOLO=${SPARK_GRAFT_BENCH_SOLO:-3} \
java $FLAGS -Xmx${SPARK_DRIVER_MEM:-8g} -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench
