#!/bin/sh
# The round CI gate — one entry point, non-zero exit on ANY divergence,
# so "remembering step 3 of the checklist" is no longer load-bearing
# (round-16 verdict #8). Runs, in order:
#
#   1. a grep of `src/main` for a fresh Hadoop `Configuration`: it misses
#                              the session's settings (the `file:` binding,
#                              `spark.hadoop.*`, viewfs mounts), so tasks
#                              get the session's conf, broadcast.
#   2. a grep of `src/main` for native-function registration: exactly one
#                              `injectFunction(` (in graft.functions.Natives)
#                              and one `.withExtensions(` (in Engine), so
#                              every session gets the one function table.
#   3. a grep of `src/main` for harness plumbing outside its one home:
#                              `def main(` only in Bench, Verify, Stress,
#                              Explain and Cli; `SPARK_GRAFT_CPUS` only in
#                              Harness (the one session rule); and of
#                              `src/main` and `src/test` for
#                              `createTempDirectory`/`createTempFile` only
#                              in Scratch (the one scratch dir, deleted at
#                              JVM exit; a temp file goes inside one); and
#                              of `src/test` for `/root/reference` only in
#                              RefFixture and RefBinarySpec (specs read the
#                              reference's inputs through RefFixture, which
#                              falls back to the repo's copies); and of
#                              `src/main` for `@deprecated`: a caller this
#                              repo does not have gets no compatibility
#                              shim, so none may return; and of `src/main`
#                              for an orphaned scaladoc (a `/** */` block
#                              directly followed by another, so it
#                              documents nothing); and of `src/main` for
#                              `spark.graft.*` conf keys: exactly
#                              `spark.graft.dedup.gridB` and
#                              `spark.graft.dedup.maxCellSigBytes`, the
#                              remedies the dedup grid cell's loud failure
#                              names (a value with one setting in use is a
#                              constant, not a knob); and of `src/main` for
#                              `doGenCode` outside graft.functions.KernelCall
#                              (a scalar kernel is one plain function and
#                              one Natives row, never its own expression
#                              class) and for `split(trim(` outside
#                              TextAnalysis.whitespaceTokens (the one
#                              whitespace tokenization).
#   4. `sbt test`            — the full ScalaTest suite. Its compile fails
#                              on any unused import, private, local or
#                              implicit in main or test code (build.sbt's
#                              `-Wunused` flags are fatal).
#   5. `perfbench/test_metrics.py` — the benchmark harness's self-tests.
#   6. `tools/deepcheck.sh`  — graft.Verify over EVERY gate at sf0.1,
#                              hash-compared against the DuckDB oracle
#                              (check_oracle.py exits 1 on any FAIL).
#
# The sf0.01 correctness gate is a strict subset of step 6's coverage (same
# comparator, smaller SF); boundary cases that only materialize at the
# larger SF — the round-15 embed_center_binarize truncate-vs-floor
# divergence — are exactly what step 6 exists to catch.
#
#   tools/ci.sh              # full gate (~25 min on this box)
set -e
cd "$(dirname "$0")/.."
echo "[ci] 1/6 no fresh Hadoop conf in main code"
if grep -rnE 'new (org\.apache\.hadoop\.conf\.)?Configuration\(\)' src/main; then
  echo "[ci] FAIL: use the session's Hadoop conf (broadcast it to tasks)"
  exit 1
fi
echo "[ci] 2/6 one native-function registrar in main code"
inj=$(grep -rn 'injectFunction(' src/main || true)
ext=$(grep -rnF '.withExtensions(' src/main || true)
if [ "$(echo "$inj" | grep -c .)" != 1 ] ||
   ! echo "$inj" | grep -q '^src/main/scala/graft/functions/Natives\.scala:' ||
   [ "$(echo "$ext" | grep -c .)" != 1 ] ||
   ! echo "$ext" | grep -q '^src/main/scala/graft/Engine\.scala:'; then
  printf '%s\n%s\n' "$inj" "$ext"
  echo "[ci] FAIL: add native functions to graft.functions.Natives; Engine.session installs it once"
  exit 1
fi
echo "[ci] 3/6 one harness path in main code, one scratch-dir rule in main and test code, one reference-fixture path in test code, no deprecated shims, orphaned scaladocs, new conf keys, per-kernel expression classes or second tokenization spelling in main code"
stray=$( (grep -rn 'def main(' src/main |
    grep -vE '^src/main/scala/graft/(Bench|Verify|Stress|Explain|Cli)\.scala:'
  grep -rn 'SPARK_GRAFT_CPUS' src/main | grep -v '^src/main/scala/graft/Harness\.scala:'
  grep -rnE 'createTemp(Directory|File)' src/main src/test |
    grep -v '^src/main/scala/graft/Scratch\.scala:'
  grep -rnF '/root/reference' src/test |
    grep -vE '^src/test/scala/graft/(RefFixture|RefBinarySpec)\.scala:'
  grep -rnF '@deprecated' src/main
  grep -rlPz '\*/[ \t]*\n\s*/\*\*' src/main | sed 's/$/: orphaned scaladoc/'
  grep -rnoE 'spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]' src/main |
    grep -vE ':spark\.graft\.dedup\.(gridB|maxCellSigBytes)$'
  grep -rn 'doGenCode' src/main | grep -v '^src/main/scala/graft/functions/KernelCall\.scala:'
  grep -rnE '(^|[^_[:alnum:]])split\(trim\(' src/main | grep -v 'def whitespaceTokens('
  ) || true)
if [ -n "$stray" ]; then
  echo "$stray"
  echo "[ci] FAIL: mains are Bench/Verify/Stress/Explain/Cli, sessions come from Harness.session, scratch dirs from Scratch.dir, reference inputs from RefFixture.path; main code has no @deprecated shims, no scaladoc that documents nothing, no spark.graft.* key but dedup.gridB and dedup.maxCellSigBytes, no doGenCode but KernelCall's (add a kernel as a function and a Natives row) and no split(trim( but TextAnalysis.whitespaceTokens"
  exit 1
fi
echo "[ci] 4/6 sbt test (unused code fails the compile)"
sbt -batch test
echo "[ci] 5/6 perfbench self-tests"
python3 perfbench/test_metrics.py
echo "[ci] 6/6 deepcheck (all gates, sf0.1)"
tools/deepcheck.sh
echo "[ci] PASS"
