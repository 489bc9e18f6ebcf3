#!/bin/bash
# 100x-replica ScaleSmoke campaign: one JVM per query (crash-robust; the
# tiling markers make later invocations reuse the synthesized corpus), run
# from a frozen copy of the compiled classes so a dev-loop `sbt compile`
# can never race a campaign JVM's lazy classloading. Appends each run's
# stderr progress and stdout JSON line to LOG.
#
# usage: tools/scale100.sh LOG QUERY [QUERY ...]
#   e.g. tools/scale100.sh scale100.log q260_proximity_fleet_dense q270_zorder_optimize
# Needs SPARK_HOME (the Spark 4 distribution) and `sbt compile` output.
# SPARK_GRAFT_REPLICAS / _SHUFFLE / _CPUS / _SCALE_REPEATS keep their
# ScaleSmoke meaning; the defaults below are the 100x campaign's.
set -u
if [ $# -lt 2 ]; then
  echo "usage: $0 LOG QUERY [QUERY ...]" >&2
  exit 2
fi
LOG=$(realpath -m "$1"); shift
cd "$(dirname "$0")/.."
: "${SPARK_HOME:?set SPARK_HOME to the Spark distribution}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
CLASSES="${TMPDIR:-/tmp}/graft_scale_classes"
if [ ! -d target/scala-2.13/classes ]; then
  echo "no compiled classes at target/scala-2.13/classes — run sbt compile first" >&2
  exit 1
fi
rm -rf "$CLASSES"
cp -r target/scala-2.13/classes "$CLASSES"
export SPARK_GRAFT_REPLICAS="${SPARK_GRAFT_REPLICAS:-100}"
export SPARK_GRAFT_SHUFFLE="${SPARK_GRAFT_SHUFFLE:-256}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"
export SPARK_GRAFT_SCALE_REPEATS="${SPARK_GRAFT_SCALE_REPEATS:-3}"
: > "$LOG"
for q in "$@"; do
  echo "=== $q start $(date -u +%H:%M:%S) ===" >> "$LOG"
  SPARK_GRAFT_ONLY=$q java -Xmx24g $ADD_OPENS \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$CLASSES:$SPARK_HOME/jars/*" \
    graft.ScaleSmoke >> "$LOG" 2>&1
  echo "=== $q exit=$? $(date -u +%H:%M:%S) ===" >> "$LOG"
done
echo "=== campaign done $(date -u +%H:%M:%S) ===" >> "$LOG"
