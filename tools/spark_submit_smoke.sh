#!/usr/bin/env bash
# spark-submit deployment smoke (north rule: "run via spark-submit") —
# package the library and drive the flagship geocode through the real
# submit path instead of sbt's forked JVM. On a cluster the same command
# takes --master spark://… / yarn / k8s:// and --num-executors (graft.Session
# keeps a configured master and sets shuffle partitions, time zone and UI
# itself); here the in-sandbox stand-in is local[N].
set -euo pipefail
cd "$(dirname "$0")/.."

CORES="${1:-8}"
PAGES="${2:-200000}"

sbt -batch package >/dev/null
JAR=target/scala-2.13/bigraphoftheworldspark_2.13-0.1.0.jar

/opt/spark/bin/spark-submit \
  --class graft.ScalingBench \
  --master "local[$CORES]" \
  "$JAR" "$CORES" "$PAGES"
