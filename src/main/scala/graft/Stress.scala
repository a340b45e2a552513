package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up smoke: replicate the testdata `factor`× with key-shifted
  * replicas (foreign keys stay consistent, so every join/aggregate is
  * semantically meaningful at the larger size), then run the full
  * SparkEntry suite against it and print per-query seconds as one JSON
  * line. `runMain graft.Stress [sfDir] [factor]` — factor 10 over sf0.1
  * is a ~sf1-equivalent (≈6M-row lineitem) single-box check that no
  * operator degrades super-linearly.
  *
  * Dimension tables (region/nation/part/supplier) are kept as-is;
  * fact/event/doc tables shift their keys by `i × (max+1)` per replica.
  * Document text gets a per-replica suffix token so the dedup operators
  * see a 10× corpus of high-similarity (not byte-identical) neighbors —
  * the adversarial shape for LSH banding and candidate verification.
  */
object Stress {

  private def shifted(df: DataFrame, factor: Int)(rep: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(i => rep(df, i)).reduce(_ unionByName _)

  /** Cumulative shuffle/agg spill across all tasks since registration —
    * local-mode driver == executor, so one listener sees every task.
    * Per-query numbers are deltas between snapshots.
    */
  private final class SpillListener extends SparkListener {
    private val mem = new java.util.concurrent.atomic.AtomicLong
    private val disk = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        mem.addAndGet(m.memoryBytesSpilled)
        disk.addAndGet(m.diskBytesSpilled)
      }
    }
    def snapshot: (Long, Long) = (mem.get, disk.get)
  }

  private def heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  }
  /** Peak heap (bytes) across heap pools since the last reset — the
    * cliff-probe observable: how close a factor runs to the configured
    * heap before the first spill/OOM cliff.
    */
  private def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  private def peakHeapBytes(): Long = heapPools.map(_.getPeakUsage.getUsed).sum

  /** Per-replica embedding jitter (`SPARK_GRAFT_STRESS_JITTER`, raw
    * additive magnitude, 0 = off — the default and every artifact
    * before round 17). With identical replicas, the exact-scan top-k
    * and the banded candidates coincide by construction — replica
    * signatures are bit-equal, so a recall floor of 1.0 at 20×/50×
    * over-reads as "banding loses nothing at scale". Jitter perturbs
    * each replica's vector elements by a DETERMINISTIC hash-derived
    * offset in ±jitter (keyed on (vec_id, replica, dim) — no RNG, so
    * reruns and A/Bs see the same corpus), which flips the sign of
    * elements within jitter of zero: replicas become NEAR-misses at
    * small nonzero Hamming distance, the shape that actually stresses
    * a banded screen (an 8×8-bit band match now requires all flipped
    * bits to miss that band). Recall under jitter is falsifiable —
    * the exact scan ranks jittered replicas among the true top-k and
    * the banded path must re-find them through perturbed signatures.
    */
  private def jitterMagnitude: Double =
    sys.env.get("SPARK_GRAFT_STRESS_JITTER").map(_.toDouble).getOrElse(0.0)

  /** Materialize the `factor`×-replicated corpus into `out` (the
    * key-shift scheme in the object scaladoc). Shared by the stress run
    * itself and by diagnostic tooling ([[StageSpill]]) that needs the
    * same corpus across many iterations.
    */
  def replicate(spark: SparkSession, sfDir: String, factor: Int,
      out: String): Unit = {
    val jitter = jitterMagnitude
    val t = Engine.Tables(spark, sfDir)

    def maxOf(df: DataFrame, c: String): Long = df.agg(max(col(c))).head().getLong(0) + 1

    val (maxCust, maxOrd, maxUser, maxEvent, maxDoc, maxVec) =
      (maxOf(t.customer, "c_custkey"), maxOf(t.orders, "o_orderkey"),
        maxOf(t.events, "user_id"), maxOf(t.events, "event_id"),
        maxOf(t.documents, "doc_id"), maxOf(t.embeddings, "vec_id"))

    def save(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    Seq("region", "nation", "part", "supplier").foreach(n => save(n, t.table(n)))
    save("customer", shifted(t.customer, factor)((d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(i * maxCust))))
    save("orders", shifted(t.orders, factor)((d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * maxOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(i * maxCust))))
    save("lineitem", shifted(t.lineitem, factor)((d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * maxOrd))))
    save("events", shifted(t.events, factor)((d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * maxEvent))
        .withColumn("user_id", col("user_id") + lit(i * maxUser))))
    save("documents", shifted(t.documents, factor)((d, i) =>
      d.withColumn("doc_id", col("doc_id") + lit(i * maxDoc))
        .withColumn("text", concat(col("text"), lit(s" r$i")))))
    save("embeddings", shifted(t.embeddings, factor)((d, i) => {
      val shiftedIds = d.withColumn("vec_id", col("vec_id") + lit(i * maxVec))
      // replica 0 stays pristine so the corpus always contains the
      // original vectors the queries are drawn from
      if (i == 0 || jitter == 0.0) shiftedIds
      else shiftedIds.withColumn("embedding", expr(
        // hash → [-1000, 1000] → scale: a uniform-ish deterministic
        // offset per (vec_id, replica, dim) in ±jitter
        s"""transform(embedding, (x, d) -> cast(x + $jitter *
           ((pmod(xxhash64(vec_id, $i, d), 2001) - 1000) / 1000.0)
           as float))"""))
    }))
  }

  /** GC-band gates (STRESS.md "GC band, profiled"): their run-to-run
    * spread on a noisy box reaches ~2.5×, so a median-of-3 is still a
    * box-draw sample. These default to 5 runs with a TRIMMED median
    * (min and max dropped) so the reported number and spread survive a
    * single GC-unlucky run — the round-15 verdict's task #3.
    */
  private val BandRepeats: Map[String, Int] =
    Map("dedup_containment" -> 5, "dedup_prefix" -> 5, "sent_dedup" -> 5,
      // r18 verdict #3: first-run JIT settles slowly on the multi-probe
      // explode/join (measured runs 5.71/1.81/0.98 at 20× — the
      // dedup_containment settling class); 5 trimmed runs read the tail
      "ann_lsh_mp" -> 5)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    require(factor >= 1, s"replication factor must be >= 1, got $factor")
    val spark = Engine.session(
      cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-stress")
    // Replication is untimed setup; SPARK_GRAFT_STRESS_DIR pins it to a
    // reusable directory (marker-checked: reuse only if base+factor
    // match) so repeated medians runs at 40×/50× don't pay the
    // replication write each time. Unset = fresh tempdir, as before.
    val out = sys.env.get("SPARK_GRAFT_STRESS_DIR") match {
      case Some(dir) if dir.nonEmpty =>
        val marker = java.nio.file.Paths.get(dir, "_replica_marker")
        // jitter participates in the reuse key (a jittered corpus must
        // never masquerade as a pristine one); the 0-jitter format is
        // unchanged so pre-round-17 replica dirs stay reusable
        val want = if (jitterMagnitude == 0.0) s"$sfDir@$factor"
          else s"$sfDir@$factor@j$jitterMagnitude"
        val have = if (java.nio.file.Files.exists(marker))
          new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") else ""
        if (have != want) {
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
          replicate(spark, sfDir, factor, dir)
          java.nio.file.Files.write(marker, want.getBytes("UTF-8"))
        } else System.err.println(s"[stress] reusing replicated corpus at $dir")
        dir
      case _ =>
        val dir = java.nio.file.Files.createTempDirectory("graft-stress").toString
        replicate(spark, sfDir, factor, dir)
        dir
    }

    // Warm-run discipline, same as Bench (methodology note there): one
    // untimed pass first, then the timed pass. Cold first-execution cost
    // (Janino codegen + JIT tiering of the fresh generated classes) is
    // nondeterministic at this plan size — measured 18-26 s warm vs
    // 70-98 s cold for dedup_jaccard on the 10× corpus, same plan, same
    // rows — and the scaling ratios STRESS.md reports compare against
    // the warm-run bench, so the stress pass must be warm too.
    System.err.println("[stress] methodology: warm-run (untimed full pass, then timed)")
    val gates = Harness.selectedGates
    gates.foreach { g =>
      try g.run(spark, out).count() catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[stress] WARM-UP FAILURE ${g.name}: ${e.getMessage}")
      }
    }
    // Timed pass with a REPRODUCIBILITY contract (round-11 verdict #2):
    // same-code 10× runs of the 44 M-candidate dedup joins varied up to
    // 7× (dedup_simhash 2.7/19.5/3.3 s — JIT recompilation + GC landing
    // differently per run), so a single number on a heavy query proves
    // nothing. Every query runs once; any query whose first timed run
    // costs >= repeatThresholdSec runs twice more and reports the MEDIAN,
    // with all runs kept in the artifact so the spread is visible —
    // cheap queries stay single-run (their noise is bounded by the
    // threshold), and the artifact says which regime each number is from.
    val repeatThresholdSec =
      sys.env.getOrElse("SPARK_GRAFT_STRESS_REPEAT_SEC", "1.0").toDouble
    // Per-gate repeat override: known GC-band members default to 5 runs
    // (BandRepeats); SPARK_GRAFT_STRESS_REPEATS="name=n,name=n" replaces
    // the whole map (so cliff probes can force medians-of-3 on exactly
    // their screens). Gates with >= 5 runs report the TRIMMED median and
    // spread (min and max runs dropped) — one GC-unlucky run can no
    // longer set either number.
    val repeatOverrides: Map[String, Int] =
      sys.env.get("SPARK_GRAFT_STRESS_REPEATS") match {
        case Some(spec) if spec.trim.nonEmpty =>
          spec.split(",").map { kv =>
            val Array(k, v) = kv.split("=")
            k.trim -> v.trim.toInt
          }.toMap
        case _ => BandRepeats
      }
    val spills = new SpillListener
    spark.sparkContext.addSparkListener(spills)
    // (sec, rows, spillBytes, peakHeapBytes) — spill is memory+disk
    // spill delta for the run, peak heap the G1 pools' high-water mark
    def once(name: String, fn: (SparkSession, String) => DataFrame): (Double, Long, Long, Long) = {
      val (m0, d0) = spills.snapshot
      resetHeapPeaks()
      val t0 = System.nanoTime()
      val n = try fn(spark, out).count() catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[stress] $name failed: ${e.getMessage}")
          -1L
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val (m1, d1) = spills.snapshot
      (sec, n, (m1 - m0) + (d1 - d0), peakHeapBytes())
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    // >= 5 runs: drop the single min and max, then median/spread over
    // the trimmed set; < 5 runs: plain median, spread over all runs.
    def trimmed(xs: Seq[Double]): Seq[Double] =
      if (xs.size >= 5) xs.sorted.drop(1).dropRight(1) else xs
    val results = gates.map { case SparkEntry.Gate(name, fn, _, _) =>
      val first = once(name, fn)
      val nRuns = repeatOverrides.getOrElse(name,
        if (first._1 >= repeatThresholdSec) 3 else 1)
      val runs =
        if (first._2 >= 0 && nRuns > 1)
          first +: Seq.fill(nRuns - 1)(once(name, fn))
        else Seq(first)
      val rows = runs.map(_._2).max // -1 only if every run failed
      // Recall gates carry their quality metric as a column; pin it in
      // the stress artifact so scale runs also gate the RECALL (a
      // replicated corpus changes signature distributions — wall time
      // alone would miss a silent recall collapse). Gate membership by
      // NAME, not by probing fn(...).columns: building the frame just to
      // look at its schema re-ran the whole gate pipeline twice more per
      // gate (streaming gates drain a full extra query at construction;
      // adaptive-dedup gates pay their eager corpus-stats jobs) — for
      // the recall gates themselves one extra untimed build + aggregate
      // over a <= queries-row result is the whole cost.
      val recall: Option[(Long, Double)] =
        if (rows >= 0 && name.startsWith("ann_recall")) {
          val r = fn(spark, out)
            .agg(min(col("recall_micro")), avg(col("recall_micro"))).head()
          if (r.isNullAt(0)) None else Some((r.getLong(0), r.getDouble(1)))
        } else None
      val kept = trimmed(runs.map(_._1))
      (name, median(kept), runs.map(_._1), rows,
        runs.map(_._3).max, runs.map(_._4).max, kept.max / kept.min.max(1e-9),
        recall)
    }
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def mb(bytes: Long): Long = bytes >> 20
    val qs = results.map { case (k, med, runs, n, spill, peak, spread, recall) =>
      val rec = recall.map { case (mn, av) =>
        s""","recall_min_micro":$mn,"recall_avg_micro":${fmt(av)}"""
      }.getOrElse("")
      val sp = if (runs.size > 1)
        s""","spread":${fmt(spread)},"trimmed":${runs.size >= 5}""" else ""
      s"""${Harness.jsonString(k)}:{"sec":${fmt(med)},"runs":[${runs.map(fmt).mkString(",")}],""" +
        s""""rows":$n,"spill_mb":${mb(spill)},"peak_heap_mb":${mb(peak)}$sp$rec}"""
    }.mkString("{", ",", "}")
    // n_failed is IN the artifact, not only the exit code: a gate that
    // dies (or a SparkContext lost mid-run — every later gate then
    // fails instantly with rows:-1) must be visible to a reader of the
    // pinned JSON who never saw the process exit status
    val nFailed = results.count(_._4 < 0)
    println(s"""{"metric":"stress_total","value":${fmt(results.map(_._2).sum)},""" +
      s""""unit":"sec","factor":$factor,"repeat_threshold_sec":$repeatThresholdSec,""" +
      s""""jitter":$jitterMagnitude,"n_failed":$nFailed,""" +
      s""""commit":"${Harness.commit}","queries":$qs,"base":"$sfDir"}""")
    spark.stop()
    // a smoke that cannot fail is not a smoke
    if (nFailed > 0) sys.exit(1)
  }
}
