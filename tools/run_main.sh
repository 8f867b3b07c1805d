#!/bin/bash
# Run a compiled graft main without sbt (avoids the sbt lock; classes must
# already be compiled by sbt). Usage: tools/run_main.sh graft.Profile q204_flagship_pca ...
# Runs the classes of the checkout this script sits in. SPARK_GRAFT_CPUS
# defaults to the host's core count (local[N], N shuffle partitions).
ROOT=$(cd "$(dirname "$0")/.." && pwd)
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}
SCALA_LIB=$(find "$HOME/.cache/coursier" -name "scala-library-2.13.*.jar" 2>/dev/null | sort -V | tail -1)
exec java -Xmx${SPARK_DRIVER_MEM:-4g} --add-modules=jdk.incubator.vector \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -cp "$ROOT/target/scala-2.13/classes:$SCALA_LIB:/opt/spark/jars/*" "$@"
