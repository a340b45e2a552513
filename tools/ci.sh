#!/bin/sh
# The round CI gate — one entry point, non-zero exit on ANY divergence,
# so "remembering step 3 of the checklist" is no longer load-bearing
# (round-16 verdict #8). Runs, in order:
#
#   1. a grep of `src/main` for a fresh Hadoop `Configuration`: it misses
#                              the session's settings (the `file:` binding,
#                              `spark.hadoop.*`, viewfs mounts), so tasks
#                              get the session's conf, broadcast.
#   2. `sbt test`            — the full ScalaTest suite (42+ suites).
#   3. `perfbench/test_metrics.py` — the benchmark harness's self-tests.
#   4. `tools/deepcheck.sh`  — graft.Verify over EVERY gate at sf0.1,
#                              hash-compared against the DuckDB oracle
#                              (check_oracle.py exits 1 on any FAIL).
#
# The sf0.01 correctness gate is a strict subset of step 4's coverage (same
# comparator, smaller SF); boundary cases that only materialize at the
# larger SF — the round-15 embed_center_binarize truncate-vs-floor
# divergence — are exactly what step 4 exists to catch.
#
#   tools/ci.sh              # full gate (~25 min on this box)
set -e
cd "$(dirname "$0")/.."
echo "[ci] 1/4 no fresh Hadoop conf in main code"
if grep -rnE 'new (org\.apache\.hadoop\.conf\.)?Configuration\(\)' src/main; then
  echo "[ci] FAIL: use the session's Hadoop conf (broadcast it to tasks)"
  exit 1
fi
echo "[ci] 2/4 sbt test"
sbt -batch test
echo "[ci] 3/4 perfbench self-tests"
python3 perfbench/test_metrics.py
echo "[ci] 4/4 deepcheck (all gates, sf0.1)"
tools/deepcheck.sh
echo "[ci] PASS"
