package graft
object Bench {

  /** Where the full per-gate record goes: `SPARK_GRAFT_BENCH_OUT` when
    * `env` sets it, else BENCH_PARTIAL.json for a `SPARK_GRAFT_ONLY` run
    * (a dev subset must not silently replace the tracked full artifact),
    * else BENCH_FULL.json.
    */
  def outPath(env: Map[String, String]): String =
    env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (env.contains("SPARK_GRAFT_ONLY")) "BENCH_PARTIAL.json" else "BENCH_FULL.json")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("graft-bench")
    val gates = Harness.selectedGates
    // Warm-up pass: run every query once (same SF) before the timed pass —
    // the standard measure-the-second-run benchmark discipline, in effect
    // since round 3 (numbers before that are cold-run and not comparable).
    // Plan compilation, Janino codegen and JIT tiering otherwise land on
    // whichever timed query touches a code path first, measured as
    // multi-second run-to-run-bimodal noise (the IVF/LSH queries compile
    // data-derived literal plans, so warming at a smaller SF misses them).
    // A warm-up failure is loud (it predicts an err row in the timed pass),
    // just not fatal.
    System.err.println(s"[bench] methodology: warm-run (untimed full pass at $sfDir, then timed)")
    // The warm-up pass is timed as COLD_TOTAL (first-execution cost:
    // plan compilation + Janino codegen + JIT tiering on top of the
    // work itself) so the artifact carries both regimes — round-over-
    // round comparisons read warm_total, cold_total bounds the
    // first-run experience a fresh session pays.
    val coldT0 = System.nanoTime()
    val entry = SparkEntry.Gate("entry", (s, _) => SparkEntry.entry(s), "")
    Harness.eachGate(entry +: gates, "[bench] WARM-UP FAILURE")(_.run(spark, sfDir).count())
    val coldTotal = (System.nanoTime() - coldT0) / 1e9
    // Canary SERIES (round-17 verdict #3): a single start-of-run canary
    // cannot distinguish a mid-run box epoch from a real regression —
    // the r17 full-suite total moved 1.21× at near-equal START canaries
    // while the builder's own bracketing runs showed the inflation was
    // stage-uniform box drift. Interleaving the canary every
    // `canaryEvery` timed gates samples the box speed THROUGH the run,
    // so per-epoch normalization is computable from the artifact alone.
    // Canary reruns are timed separately and never added to the totals.
    val canaryEvery = 20
    val canaryGate = SparkEntry.gates.find(_.name == "q13_scalar_fns")
    val canarySeries = scala.collection.mutable.ArrayBuffer[Double]()
    def sampleCanary(): Unit = canaryGate.foreach { g =>
      val t0 = System.nanoTime()
      val (_, r) = Harness.eachGate(Seq(g), "[bench] CANARY FAILURE")(_.run(spark, sfDir).count()).head
      // -1.0 sentinel keeps the series at fixed positions so per-epoch
      // normalization can still align samples with gate indices from
      // the artifact alone — a silently shortened series violates this
      // harness's own "failures must be loud in the artifact" rule
      canarySeries += r.fold(_ => -1.0, _ => (System.nanoTime() - t0) / 1e9)
    }
    // Timed pass. A failed query is an ERROR row, never a phantom time —
    // round 8 shipped 11 analysis-broken queries that this harness timed
    // at ~0.07 s each (the cost of throwing), which read as improvements
    // in the committed artifact. Failures must be loud in the artifact
    // itself, not only on stderr.
    sampleCanary()
    val results: Seq[(String, Either[String, Double])] =
      gates.grouped(canaryEvery).zipWithIndex.toSeq.flatMap { case (chunk, k) =>
        if (k > 0) sampleCanary()
        Harness.eachGate(chunk, "[bench] FAILURE") { g =>
          val t0 = System.nanoTime()
          g.run(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }.map { case (g, r) => g.name -> r }
      }
    sampleCanary()
    // 3-decimal (millisecond) formatting: ms resolution is below run-to-run
    // noise and keeps lines short (the driver's tail capture is bounded).
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    import Harness.{jsonString => jstr}
    def qmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => jstr(k) + ":" + fmt(v) }.mkString("{", ",", "}")
    val ok = results.collect { case (k, Right(v)) => k -> v }
    // Error messages truncated to one line / 80 chars: the artifact needs
    // the existence + root-cause head, the full trace is on stderr.
    val errs = results.collect { case (k, Left(m)) =>
      k -> m.linesIterator.next().take(80)
    }
    val emap = errs.map { case (k, m) => jstr(k) + ":" + jstr(m) }.mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    // Box-speed canary (round-12 verdict #5/#7): q13_scalar_fns is a pure
    // scalar-codegen scan whose cost is plan-stable (~0.1 s) and code-
    // change-insensitive, so cross-round tables can normalize out the
    // measured ±20% box-to-box speed drift (README) instead of aliasing
    // it into code deltas. -1 when the canary itself isn't in this run
    // (SPARK_GRAFT_ONLY dev subsets) or failed.
    val canary = ok.toMap.getOrElse("q13_scalar_fns", -1.0)
    val canaryArr = canarySeries.map(fmt).mkString("[", ",", "]")
    // Canary-normalized warm total (round-18 verdict #7): warm_total
    // scaled by ref_canary / median(series), making the cross-round
    // comparison self-computing instead of a by-hand exercise. The
    // reference canary is the r10 anchor epoch's 0.104 s (STRESS.md
    // "Canary normalization"); the median is over SUCCESSFUL samples
    // only (-1.0 failure sentinels excluded). -1 when no sample landed.
    val canaryRefSec = 0.104
    val validCanaries = canarySeries.filter(_ > 0).sorted
    val canaryMedian =
      if (validCanaries.isEmpty) -1.0 else validCanaries(validCanaries.size / 2)
    val canaryNorm =
      if (canaryMedian > 0) total * (canaryRefSec / canaryMedian) else -1.0
    val common = s""""value":${fmt(total)},"unit":"sec","n_queries":${results.size},""" +
      s""""n_err":${errs.size},"cold_total":${fmt(coldTotal)},"warm_total":${fmt(total)},""" +
      s""""canary_sec":${fmt(canary)},"canary_series":$canaryArr,""" +
      s""""canary_ref_sec":${fmt(canaryRefSec)},"canary_median":${fmt(canaryMedian)},""" +
      s""""warm_total_canary_norm":${fmt(canaryNorm)},""" +
      // every committed artifact self-identifies the code it measured
      // (round-11 verdict #8)
      s""""errors":$emap,"commit":"${Harness.commit}","sf":"$sfDir""""
    // Two artifacts from one run:
    //  - FULL file (tracked in-repo as BENCH_FULL.json unless overridden):
    //    every per-query time — the audit trail.
    //  - stdout line: the driver archives only the LAST 2000 chars of
    //    stdout into BENCH_r{N}.json and parses JSON from that window; a
    //    137-query map is ~3.4 KB and can never fit, which left rounds 7-8
    //    unparseable ("parsed": null). The printed line therefore carries
    //    the total, ALL error rows, and the headline q* relational suite
    //    only (~1 KB, fits the window with room for sbt's epilogue), plus
    //    a pointer to the full artifact.
    val fullLine = s"""{"metric":"total",$common,"queries":${qmap(ok)}}"""
    // digit-anchored: the headline is the q1..q34 relational suite only —
    // a bare startsWith("q") also caught quality_*, inflating the
    // size-bounded stdout window this filter exists to respect
    val headline = ok.filter { case (k, _) => k.matches("^q\\d.*") }
    val outPath = Bench.outPath(sys.env)
    val stdoutLine =
      s"""{"metric":"total",$common,"queries":${qmap(headline)},"queries_full":${jstr(outPath)}}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case t: Throwable => System.err.println(s"[bench] could not write $outPath: $t") }
    spark.stop()
    // The JSON line is the LAST stdout write, after spark.stop(), so no
    // shutdown logging can land between it and process exit: the driver
    // archives the final 2000 chars of output and parses the bench JSON
    // from that window (with sbt's logger prefix on every line, no round
    // before 10 ever parsed — build.sbt now passes forked-run stdout
    // through unprefixed, and this line is printed last so it survives
    // the window intact).
    println(stdoutLine)
    System.out.flush()
    // A bench run with failures must fail the invoking process too.
    if (errs.nonEmpty) sys.exit(1)
  }
}
