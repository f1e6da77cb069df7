#!/usr/bin/env bash
# One-command runnable relay artifact — the local equivalent of the
# reference's `docker run` story (/root/reference/Dockerfile: build a static
# binary, run `prometheus_remote_kinesis -stream-name $STREAM_NAME`).
#
# Builds the thin application jar if missing (the offline-cache sandbox has
# no assembly plugin; on a real cluster you would `sbt assembly` or
# `spark-submit --jars`), then launches RelayMain against the provided Spark
# distribution, exactly as a container entrypoint would.
#
# Usage:
#   tools/run_relay.sh --in /data/bodies --out /data/sink \
#       [--stream-name metrics] [--firehose] [--write-interval 10] \
#       [--listen-addr 9501] [--region ap-northeast-1] \
#       [--analytics <mode>[,<mode>...]]  (the modes are RelayMain.Modes in
#        src/main/scala/graft/streaming/RelayMain.scala; mode knobs and the
#        other options are listed in RelayMain's scaladoc)
#
# Env: SPARK_HOME (default /opt/spark), SPARK_GRAFT_CPUS (default 4).
set -euo pipefail
cd "$(dirname "$0")/.."
SPARK_HOME=${SPARK_HOME:-/opt/spark}

JAR=$(ls target/scala-2.13/*.jar 2>/dev/null | grep -v -- '-sources\|-javadoc' | head -1 || true)
if [ -z "$JAR" ]; then
  echo "[run_relay] building application jar (sbt package)..."
  sbt -batch package >/dev/null
  JAR=$(ls target/scala-2.13/*.jar | grep -v -- '-sources\|-javadoc' | head -1)
fi

exec java -cp "$JAR:$SPARK_HOME/jars/*" \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  graft.streaming.RelayMain "$@"
