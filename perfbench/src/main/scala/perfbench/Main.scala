package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one benchmark workload in this JVM and writes the raw run record
  * (every op of every pass, spans and Spark counters when tracing) as
  * JSON. `run.py` builds, launches, checks and summarizes it.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --fixtures DIR --work DIR --out FILE [--corrupt-expected]
  */
object Main {
  val Workloads: Seq[String] = Seq("mj_pipeline", "gates")

  /** `gates`: 6 relational `q*` gates (fixed cost per job and per gate),
    * two kernel gates (`text_normalize`, and `ann_i8_topk`, which also
    * trains before its frame exists) and the stateful streaming gate
    * `stream_quarantine`. A fixed subset: the gate families in full take
    * about two minutes a pass on 4 cores, far past a run's budget. */
  val Gates: Seq[String] = Seq(
    "q1_pricing_summary", "q2_market_share", "q6_forecast_revenue", "q10_anti_join",
    "q11_rollup", "q23_grouping_sets", "text_normalize", "ann_i8_topk",
    "stream_quarantine")

  /** The fewest timed passes a run makes: the smallest count that gives
    * every workload at least 20 op samples (9 gates or 8 `mj_pipeline`
    * ops a pass), so the tail percentile lies above the median. */
  val MinPasses = 3

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = graft.Engine.session(cores, "perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext)

    val wl: Workload = workload match {
      case "mj_pipeline" =>
        new MjPipeline(spark, seed, s"$work/mj", cores,
          corruptExpected = opts.contains("corrupt-expected"))
      case "gates" =>
        new GateWorkload(spark, opts("fixtures"), s"$work/gates_out",
          Gates)
      case other => sys.error(s"unknown workload $other; one of ${Workloads.mkString(", ")}")
    }

    // set-up: inputs made three times (the median is reported), then two
    // untimed passes: the warm-up, which also produces the checked
    // outputs, and one pass of the timed path. A single warm pass leaves
    // the JIT still compiling: the next pass measured 15-20 % slower than
    // the one after it on every workload.
    val genS = (1 to 3).map { _ =>
      val g0 = System.nanoTime(); wl.generate(); (System.nanoTime() - g0) / 1e9
    }
    def pass(order: Seq[String], body: (String, Phases) => Outcome) = order.map { op =>
      val (out, ph) = Harness.runOp(tracer, op, body(op, _))
      Harness.opRecord(op, out, ph)
    }
    val warmOrder = Harness.order(wl.groups, new scala.util.Random(seed))
    val w0 = System.nanoTime()
    val warm = pass(warmOrder, wl.warm) ++ pass(warmOrder, wl.run)
    val warmupS = (System.nanoTime() - w0) / 1e9

    val records = mutable.ArrayBuffer.empty[ListMap[String, Any]]
    // a traced run alternates traced and untraced passes over the same
    // order, switching which goes first, for the tracing overhead
    val modes = (r: Int) =>
      if (!traced) Seq(false) else if (r % 2 == 1) Seq(true, false) else Seq(false, true)
    def timedPass(r: Int, tracedRep: Boolean): Unit = {
      val order = Harness.order(wl.groups, new scala.util.Random(seed * 1000003L + r))
      if (tracedRep) tracer.start()
      val gc0 = Trace.gcSeconds()
      val cg0 = Trace.codegenSeconds()
      val p0 = System.nanoTime()
      Trace.resetPeakRss()
      val ops = tracer.span(s"rep$r", "rep")(pass(order, wl.run))
      val wall = (System.nanoTime() - p0) / 1e9
      val rss = Trace.peakRssMb()
      val gc = Trace.gcSeconds() - gc0
      val cg = Trace.codegenSeconds() - cg0
      tracer.stop()
      records += ListMap("rep" -> r, "traced" -> tracedRep, "order" -> order,
        "wall_s" -> wall, "gc_s" -> gc, "codegen_compile_s" -> cg,
        "peak_rss_mb" -> rss, "ops" -> ops)
    }
    // timed passes until `seconds` have gone by, and never fewer than
    // MinPasses
    val m0 = System.nanoTime()
    var r = 0
    while (r < MinPasses || (System.nanoTime() - m0) / 1e9 < seconds) {
      r += 1
      modes(r).foreach(tracedRep => timedPass(r, tracedRep))
    }

    val record = ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "cores" -> cores,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "session_s" -> sessionS, "generate_s" -> genS, "warmup_s" -> warmupS,
      "warmup_order" -> warmOrder, "warmup" -> warm,
      "reps" -> records, "workload_info" -> wl.describe,
      "spans" -> spanRecords(tracer),
      "run_peak_rss_mb" -> Trace.peakRssMb())
    Files.write(Paths.get(opts("out")), Json(record).getBytes(UTF_8))
    spark.stop()
    sys.exit(0)
  }

  /** Every span with its Spark counters and, for operations, the
    * streaming progress reported while it was open. */
  private def spanRecords(tracer: Tracer): Seq[ListMap[String, Any]] =
    tracer.spans.toSeq.sortBy(_.id).map { s =>
      val c = tracer.counters(s.id)
      val base = ListMap[String, Any]("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "kind" -> s.kind, "seconds" -> s.seconds)
      val spark = if (c.jobs == 0) ListMap.empty else ListMap(
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "failed_tasks" -> c.failedTasks, "task_run_s" -> c.runTimeMs / 1e3,
        "input_bytes" -> c.inputBytes, "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "shuffle_write_records" -> c.shuffleWriteRecords,
        "shuffle_read_bytes" -> c.shuffleReadBytes, "spill_bytes" -> c.spillBytes,
        "map_task_s" -> c.mapTaskMs / 1e3, "reduce_task_s" -> c.reduceTaskMs / 1e3,
        "reduce_skew" -> reduceSkew(c))
      val streaming = if (s.kind != "op") ListMap.empty
        else streamStats(tracer.progressBetween(s.startMs, s.endMs))
      base ++ spark ++ streaming
    }

  /** Largest reduce task's shuffle-read bytes over the median task's, in
    * the stage that read the most; 0 when no stage read a shuffle. */
  private def reduceSkew(c: SpanCounters): Double = {
    val stage = c.reduceTaskReads.values.filter(_.size >= 2).maxByOption(_.sum)
    stage.map { reads =>
      val med = Harness.median(reads.map(_.toDouble).toSeq)
      if (med > 0) reads.max / med else 0.0
    }.getOrElse(0.0)
  }

  private def streamStats(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])
      : ListMap[String, Any] =
    if (ps.isEmpty) ListMap.empty
    else {
      def dur(k: String): Seq[Double] =
        ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
      val last = ps.groupBy(_.id).values.map(_.maxBy(_.batchId))
      ListMap("stream" -> ListMap(
        "batches" -> ps.size,
        "input_rows" -> ps.map(_.numInputRows).sum,
        "trigger_ms" -> dur("triggerExecution"),
        "add_batch_ms" -> dur("addBatch").sum, "wal_commit_ms" -> dur("walCommit").sum,
        "commit_offsets_ms" -> dur("commitOffsets").sum,
        "query_planning_ms" -> dur("queryPlanning").sum,
        "latest_offset_ms" -> dur("latestOffset").sum,
        "state_commit_ms" -> ps.map(_.stateOperators.map(_.commitTimeMs).sum).sum,
        "state_rows" -> last.map(_.stateOperators.map(_.numRowsTotal).sum).sum,
        "state_mem_bytes" -> ps.map(_.stateOperators.map(_.memoryUsedBytes).sum).max))
    }

  private def parse(args: Array[String]): Map[String, String] = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) { m(k) = args(i + 1); i += 2 }
      else { m(k) = ""; i += 1 }
    }
    Seq("workload", "seed", "seconds", "trace", "work", "out").foreach(k =>
      require(m.contains(k), s"missing --$k"))
    m.toMap
  }
}
