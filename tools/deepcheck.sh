#!/bin/sh
# sf0.1 DEEP correctness check — runs the oracle gates at the larger SF,
# where cross-engine arithmetic boundary cases actually materialize
# (round 15's embed_center_binarize divergence — DuckDB integer `//`
# truncates toward zero while floor-division floors — was INVISIBLE at
# sf0.01, whose sums happened to stay non-negative, and caught only by
# this check). Run it for any new or touched gate whose oracle divides,
# shifts, or sums near a sign boundary; run it with no gate list before
# tagging a round.
#
#   tools/deepcheck.sh                 # all gates at sf0.1
#   tools/deepcheck.sh 'dedup_*,ann_*' # selected gates (SPARK_GRAFT_ONLY syntax)
#
# Requires compiled classes (sbt compile). Uses the raw-java launcher
# (tools/jvm.sh) so it can run while sbt is busy.
set -e
cd "$(dirname "$0")/.."
SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
OUT="$(mktemp -d /tmp/graft-deepcheck-XXXXXX)"
trap 'rm -rf "$OUT"' EXIT
[ -n "$1" ] && export SPARK_GRAFT_ONLY="$1"
. tools/jvm.sh
graft_java 8g graft.Verify "$SF_DIR" "$OUT"
python3 tools/check_oracle.py "$SF_DIR" "$OUT"
