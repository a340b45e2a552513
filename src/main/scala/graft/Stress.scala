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
    private val spilled = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = Option(te.taskMetrics)
      .foreach(m => spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled))
    /** Memory plus disk spill bytes so far. */
    def snapshot: Long = spilled.get
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
    * key-shift scheme in the object scaladoc).
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

  /** The first-run seconds from which a gate runs 3 times ([[timedRuns]]). */
  val RepeatThresholdSec = 1.0

  /** One timed run of a gate: seconds, rows, spill bytes and peak heap bytes. */
  private[graft] final case class Run(sec: Double, rows: Long, spill: Long, peakHeap: Long)

  /** The timed runs of one gate, with a REPRODUCIBILITY contract
    * (round-11 verdict #2): same-code 10× runs of the 44 M-candidate
    * dedup joins varied up to 7× (dedup_simhash 2.7/19.5/3.3 s — JIT
    * recompilation + GC landing differently per run), so a single number
    * on a heavy query proves nothing. Every gate runs once; a
    * [[BandRepeats]] gate runs its count in all, and any other gate
    * whose first run costs >= [[RepeatThresholdSec]] runs twice more —
    * cheap gates stay single-run (their noise is bounded by the
    * threshold), and the artifact keeps every run, so it says which
    * regime each number is from. A run that throws ends the gate: it
    * is the gate loop's failure entry, never a partial median.
    */
  private[graft] def timedRuns(name: String)(run: => Run): Seq[Run] = {
    val first = run
    val n = BandRepeats.getOrElse(name, if (first.sec >= RepeatThresholdSec) 3 else 1)
    first +: Seq.fill(n - 1)(run)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    require(factor >= 1, s"replication factor must be >= 1, got $factor")
    val spark = Harness.session("graft-stress")
    // Replication is untimed setup; SPARK_GRAFT_STRESS_DIR pins it to a
    // reusable directory (marker-checked: reuse only if base+factor
    // match) so repeated medians runs at 40×/50× don't pay the
    // replication write each time. Unset = a fresh scratch dir.
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
        val dir = Scratch.dir("graft-stress")
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
    Harness.eachGate(gates, "[stress] WARM-UP FAILURE")(_.run(spark, out).count())
    // Timed pass: each gate's runs by the repeat rule ([[timedRuns]]).
    val spills = new SpillListener
    spark.sparkContext.addSparkListener(spills)
    def once(g: SparkEntry.Gate): Run = {
      val spill0 = spills.snapshot
      resetHeapPeaks()
      val t0 = System.nanoTime()
      val n = g.run(spark, out).count()
      Run((System.nanoTime() - t0) / 1e9, n, spills.snapshot - spill0, peakHeapBytes())
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    // >= 5 runs: drop the single min and max, then median/spread over
    // the trimmed set, so one GC-unlucky run can set neither number;
    // < 5 runs: plain median, spread over all runs.
    def trimmed(xs: Seq[Double]): Seq[Double] =
      if (xs.size >= 5) xs.sorted.drop(1).dropRight(1) else xs
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def mb(bytes: Long): Long = bytes >> 20
    // per gate: (reported seconds, the gate's JSON fields)
    val results = Harness.eachGate(gates, "[stress] FAILURE") { g =>
      val runs = timedRuns(g.name)(once(g))
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
      val rec = if (!g.name.startsWith("ann_recall")) "" else {
        val r = g.run(spark, out)
          .agg(min(col("recall_micro")), avg(col("recall_micro"))).head()
        if (r.isNullAt(0)) ""
        else s""","recall_min_micro":${r.getLong(0)},"recall_avg_micro":${fmt(r.getDouble(1))}"""
      }
      val secs = runs.map(_.sec)
      val kept = trimmed(secs)
      val sp = if (runs.size > 1)
        s""","spread":${fmt(kept.max / kept.min.max(1e-9))},"trimmed":${runs.size >= 5}""" else ""
      median(kept) -> (s""""sec":${fmt(median(kept))},"runs":[${secs.map(fmt).mkString(",")}],""" +
        s""""rows":${runs.map(_.rows).max},"spill_mb":${mb(runs.map(_.spill).max)},""" +
        s""""peak_heap_mb":${mb(runs.map(_.peakHeap).max)}$sp$rec""")
    }
    // a failed gate keeps every key: no runs, rows -1
    val failedFields = """"sec":0.000,"runs":[],"rows":-1,"spill_mb":0,"peak_heap_mb":0"""
    val qs = results.map { case (g, r) =>
      s"${Harness.jsonString(g.name)}:{${r.fold(_ => failedFields, _._2)}}"
    }.mkString("{", ",", "}")
    // n_failed is IN the artifact, not only the exit code: a gate that
    // dies (or a SparkContext lost mid-run — every later gate then
    // fails instantly with rows:-1) must be visible to a reader of the
    // pinned JSON who never saw the process exit status
    val nFailed = results.count(_._2.isLeft)
    println(s"""{"metric":"stress_total","value":${fmt(results.flatMap(_._2.toOption).map(_._1).sum)},""" +
      s""""unit":"sec","factor":$factor,"repeat_threshold_sec":$RepeatThresholdSec,""" +
      s""""jitter":$jitterMagnitude,"n_failed":$nFailed,""" +
      s""""commit":"${Harness.commit}","queries":$qs,"base":"$sfDir"}""")
    spark.stop()
    // a smoke that cannot fail is not a smoke
    if (nFailed > 0) sys.exit(1)
  }
}
