#!/bin/sh
# Raw-java launcher for graft.Stress — the same invocation STRESS.md's
# artifacts were produced with, pinned here so a probe is one command
# and the heap/env configuration is never reconstructed from memory.
#
#   tools/stress.sh <factor> <out.json> [heap]
#
#   factor   replication factor over sf0.1 (10/20/30/40/50)
#   out.json where the one-line stress JSON lands
#   heap     JVM -Xmx (default 96g — the 20x/cliff configuration; note
#            peak_heap_mb under a 96g heap is a G1 high-water mark, not
#            a working set: G1 defers collection, see STRESS.md)
#
# Knobs via env, all optional (see Stress.scala for semantics):
#   SPARK_GRAFT_ONLY               gate list/globs, unset = all
#   SPARK_GRAFT_STRESS_DIR         reusable replica dir (marker-checked)
#   SPARK_GRAFT_STRESS_JITTER      per-replica embedding jitter magnitude
#   SPARK_GRAFT_CPUS               session cores, unset = the machine's count
#   SPARK_GRAFT_JAVA_EXTRA         extra JVM flags (e.g. -Dspark.graft.dedup.gridB=16)
#
# Requires compiled classes (sbt compile); runs while sbt is busy. The
# JVM flags are tools/jvm.sh's, shared with tools/deepcheck.sh.
set -e
cd "$(dirname "$0")/.."
FACTOR="${1:?usage: stress.sh <factor> <out.json> [heap]}"
OUT="${2:?usage: stress.sh <factor> <out.json> [heap]}"
HEAP="${3:-96g}"
. tools/jvm.sh
# shellcheck disable=SC2086
graft_java "$HEAP" $SPARK_GRAFT_JAVA_EXTRA \
  graft.Stress /root/testdata/sf0.1 "$FACTOR" 2>/dev/null > "$OUT"
head -c 400 "$OUT"; echo
