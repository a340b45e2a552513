package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with SparkTestSession {

  private val H = 3_600_000_000_000L // 1 hour in ns

  test("hourlyCounts: batch plan equals an independent aggregation") {
    val events = graft.Engine.Tables(spark, "/root/testdata/sf0.001").events
    val got = Streaming.hourlyCounts(events)
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val expect = events
      .groupBy((col("ts") / H).cast("long").as("h"), col("event_type"))
      .agg(count(lit(1)), round(sum(col("value")), 2))
      .collect().map(r => (r.getLong(0) * 3_600_000L, r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got === expect)
  }

  test("hourlyCounts: streaming append emits finalized windows, drops late data") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val q = Streaming.hourlyCounts(df)
      .writeStream.format("memory").queryName("hourly").outputMode("append").start()
    try {
      // hour 0: two clicks; hour 1: one view
      input.addData((10L * 1_000_000_000L, "click", 1.0),
        (20L * 1_000_000_000L, "click", 2.0), (H + 5, "view", 1.0))
      q.processAllAvailable()
      // advance watermark beyond hour 0 + 1h delay: event at hour 3
      input.addData((3 * H, "click", 9.0))
      q.processAllAvailable()
      // one more batch so the new watermark finalizes hour 0
      input.addData((3 * H + 7, "view", 9.0))
      q.processAllAvailable()
      val rows = spark.table("hourly").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(rows.contains((0L, "click", 2L, 3.0)), s"got: ${rows.mkString(", ")}")
      // a late event for hour 0 after the watermark passed must be dropped
      input.addData((30L * 1_000_000_000L, "click", 100.0))
      q.processAllAvailable()
      val after = spark.table("hourly").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(after.count(t => t._1 == 0L && t._2 == "click") === 1)
      assert(after.contains((0L, "click", 2L, 3.0)))
    } finally q.stop()
  }

  test("sessionize: gap closes sessions; watermark timeout evicts the tail") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def ev(userId: Long, ms: Long, v: Double) =
      Streaming.Event(userId, new java.sql.Timestamp(ms), v)
    val input = MemoryStream[Streaming.Event]
    val sessions = Streaming.sessionize(
      Streaming.sessionInput(
        input.toDF().select(
          col("user_id"),
          (unix_millis(col("event_ts")) * 1_000_000L).as("ts"),
          col("value")),
        watermarkDelay = "10 minutes"),
      gapMinutes = 30)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      val min = 60_000L
      val base = 60 * min // keep every event past the initial watermark (0)
      // user 1: two events 5 min apart, then 40-min gap → session closes
      input.addData(ev(1, base, 1.0), ev(1, base + 5 * min, 2.0),
        ev(1, base + 45 * min, 7.0))
      q.processAllAvailable()
      val first = spark.table("sessions").as[Streaming.Session].collect()
      assert(first.toSeq === Seq(Streaming.Session(1L, base, base + 5 * min, 2, 3.0)))
      // push the watermark far past last+gap → open tail session evicted
      input.addData(ev(2, base + 400 * min, 1.0))
      q.processAllAvailable()
      input.addData(ev(2, base + 401 * min, 1.0))
      q.processAllAvailable()
      val all = spark.table("sessions").as[Streaming.Session].collect()
      assert(all.contains(
        Streaming.Session(1L, base + 45 * min, base + 45 * min, 1, 7.0)),
        s"got: ${all.mkString(", ")}")
    } finally q.stop()
  }

  test("dedupStream drops in-horizon duplicate ids, keeps state bounded") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)] // event_id, ts(ns), type
    val df = input.toDF().toDF("event_id", "ts", "event_type")
    val q = Streaming.dedupStream(df, watermarkDelay = "10 minutes")
      .select("event_id").writeStream
      .format("memory").queryName("deduped").outputMode("append").start()
    try {
      val base = 10 * H // clear of the initial watermark
      input.addData((1L, base, "click"), (1L, base, "click"), (2L, base + 5, "view"))
      q.processAllAvailable()
      input.addData((1L, base, "click"), (3L, base + 10, "view")) // 1 is a dup again
      q.processAllAvailable()
      val ids = spark.table("deduped").as[Long].collect().toSeq
      assert(ids.sorted === Seq(1L, 2L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("enrichWithDim: stream-static left join matches batch, keeps unknown users") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dim = Streaming.userDim(spark, "/root/testdata/sf0.001")
    val knownUser = dim.select("user_id").as[Long].head()
    val ghost = -999L // no profile row
    val input = MemoryStream[(Long, Long, String)] // event_id, user_id, type
    val df = input.toDF().toDF("event_id", "user_id", "event_type")
    val q = Streaming.enrichWithDim(df, dim).writeStream
      .format("memory").queryName("enriched").outputMode("append").start()
    try {
      input.addData((1L, knownUser, "click"), (2L, ghost, "view"))
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => r.getLong(0) -> (r.getBoolean(3), r.getString(4))).toMap
      val expectedHome = dim.filter(col("user_id") === knownUser)
        .select("home_type").head().getString(0)
      assert(rows(1L) === (true, expectedHome))
      assert(rows(2L) === (false, "unknown"))
    } finally q.stop()
  }

  test("idempotentParquetSink: batch-addressed dirs; re-writing a batch id doesn't duplicate") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = Streaming.idempotentParquetSink(
      input.toDF().toDF("id", "v"), out, ckpt)
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
      val rows = spark.read.parquet(out)
      assert(rows.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
      // batch_id partition layout present
      assert(rows.columns.contains("batch_id"))
      // replay batch 0 THROUGH THE SINK'S OWN write path (at-least-once
      // redelivery = same data, same id, same code): must not duplicate
      Streaming.writeBatchIdempotent(
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L, out)
      val after = spark.read.parquet(out).select("id").as[Long].collect().sorted.toSeq
      assert(after === Seq(1L, 2L, 3L)) // overwrite, not append: no dupes
    } finally q.stop()
  }

  test("idempotentParquetSink refuses a fresh checkpoint over non-empty output") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft-sink2").toString
    Streaming.writeBatchIdempotent(Seq((9L, "z")).toDF("id", "v"), 7L, out)
    val freshCkpt = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    val input = MemoryStream[(Long, String)]
    val e = intercept[IllegalArgumentException](
      Streaming.idempotentParquetSink(input.toDF().toDF("id", "v"), out, freshCkpt))
    assert(e.getMessage.contains("wipe the output"))
  }

  test("restart on the same checkpoint lands what one uninterrupted two-batch run lands") {
    import spark.implicits._
    val feeds = Seq(
      Seq((1L, "en", "a b c d"), (2L, "en", "e f g h"), (3L, "fr", "x y")),
      Seq((4L, "en", "i j k"), (5L, "en", "l m"), (6L, "fr", "z")))
    // one parquet file per feed, renamed into place whole by the committer
    def stage(in: String, feed: Int): Unit =
      feeds(feed).toDF("doc_id", "lang", "text").coalesce(1)
        .write.mode("append").parquet(in)
    def start(root: java.nio.file.Path, availableNow: Boolean) =
      Streaming.idempotentParquetSink(
        Streaming.budgetAdmitStream(
          spark.readStream.schema("doc_id LONG, lang STRING, text STRING")
            .parquet(root.resolve("in").toString), budget = 10L).toDF(),
        root.resolve("out").toString, root.resolve("ckpt").toString,
        availableNow = availableNow)
    def landed(root: java.nio.file.Path) =
      spark.read.parquet(root.resolve("out").toString)
        .as[(Long, String, Long, Long, Int)].collect().sortBy(_._1).toSeq
    def batchDirs(root: java.nio.file.Path) =
      root.resolve("out").toFile.list().filter(_.startsWith("batch_id=")).sorted.toSeq

    // feed 1, drain, stop; feed 2, restart on the same checkpoint: the
    // file-source log, offsets and state store all come back from disk
    val restarted = java.nio.file.Files.createTempDirectory("graft-restart")
    stage(restarted.resolve("in").toString, 0)
    start(restarted, availableNow = true).awaitTermination()
    stage(restarted.resolve("in").toString, 1)
    start(restarted, availableNow = true).awaitTermination()

    val uninterrupted = java.nio.file.Files.createTempDirectory("graft-norestart")
    stage(uninterrupted.resolve("in").toString, 0)
    val q = start(uninterrupted, availableNow = false)
    try {
      q.processAllAvailable()
      stage(uninterrupted.resolve("in").toString, 1)
      q.processAllAvailable()
    } finally q.stop()

    assert(landed(restarted) === landed(uninterrupted))
    // the quota carried across the restart: en's doc 5 opens past the
    // budget only if batch 1 saw batch 0's restored spend
    assert(landed(restarted).map(_._1) === Seq(1L, 2L, 3L, 4L, 6L))
    assert(batchDirs(restarted) === Seq("batch_id=0", "batch_id=1"))
    assert(batchDirs(uninterrupted) === Seq("batch_id=0", "batch_id=1"))
  }

  test("sessionize: a within-watermark late event cannot regress the session") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def ev(userId: Long, ms: Long) =
      Streaming.Event(userId, new java.sql.Timestamp(ms), 1.0)
    val input = MemoryStream[Streaming.Event]
    val q = Streaming.sessionize(
      Streaming.sessionInput(
        input.toDF().select(col("user_id"),
          (unix_millis(col("event_ts")) * 1_000_000L).as("ts"), col("value")),
        watermarkDelay = "10 minutes"),
      gapMinutes = 30)
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    try {
      val min = 60_000L
      input.addData(ev(1, 100 * min))
      q.processAllAvailable()
      input.addData(ev(1, 95 * min)) // late but within watermark (90 min)
      q.processAllAvailable()
      // 28 min after the session FRONTIER (100) → must extend, not split
      input.addData(ev(1, 128 * min))
      q.processAllAvailable()
      input.addData(ev(2, 600 * min)); q.processAllAvailable()
      input.addData(ev(2, 601 * min)); q.processAllAvailable()
      // start extends back to 95 — identical to batch-mode over the same
      // events — and the frontier stays at 128
      val all = spark.table("late_sessions").as[Streaming.Session].collect()
      assert(all.contains(Streaming.Session(1L, 95 * min, 128 * min, 3, 3.0)),
        s"late event split or regressed the session: ${all.mkString(", ")}")
    } finally q.stop()
  }

  test("stream-stream join: purchases match only in-window prior clicks") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, String)] // event_id, ts, user, type
    val df = input.toDF().toDF("event_id", "ts", "user_id", "event_type")
    val q = Streaming.purchasesWithRecentClicks(df, window = "10 minutes")
      .select("purchase_id")
      .writeStream.format("memory").queryName("attributed").outputMode("append").start()
    try {
      val base = 10 * H
      val min = 60_000_000_000L // 1 minute in ns
      input.addData(
        (1L, base, 7L, "click"),                 // 5 min before purchase → match
        (2L, base + 5 * min, 7L, "purchase"),
        (3L, base + 5 * min, 8L, "purchase"),    // other user: no click → drop
        (4L, base + 30 * min, 9L, "click"),      // click 20 min before purchase
        (5L, base + 50 * min, 9L, "purchase"))   // → outside 10-min window
      q.processAllAvailable()
      val got = spark.table("attributed").as[Long].collect().toSeq.sorted
      assert(got === Seq(2L), s"got $got")
    } finally q.stop()
  }

  test("sessionize on a batch Dataset emits gap-closed sessions") {
    import spark.implicits._
    val min = 60_000L
    val events = Seq(
      (1L, 0L, 1.0), (1L, 10 * min, 2.0),        // session A
      (1L, 120 * min, 5.0), (1L, 125 * min, 1.0), // session B (open tail)
      (2L, 0L, 4.0), (2L, 200 * min, 1.0)         // one closed, one open
    ).toDF("user_id", "ms", "value")
      .select(col("user_id"), (col("ms") * 1_000_000L).as("ts"), col("value"))
    val got = Streaming.sessionize(Streaming.sessionInput(events))
      .collect().toSet
    assert(got === Set(
      Streaming.Session(1L, 0L, 10 * min, 2, 3.0),
      Streaming.Session(2L, 0L, 0L, 1, 4.0)))
  }

  test("topKLeaderboard: complete-mode ranks update across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Long]
    val df = input.toDF().toDF("user_id")
    val q = Streaming.topKLeaderboard(df, k = 2)
      .writeStream.format("memory").queryName("board").outputMode("complete").start()
    try {
      input.addData(1L, 1L, 2L)
      q.processAllAvailable()
      assert(spark.table("board").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L), (2L, 1L)))
      // user 2 overtakes user 1 in the next batch; complete mode re-ranks
      input.addData(2L, 2L, 3L)
      q.processAllAvailable()
      assert(spark.table("board").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((2L, 3L), (1L, 2L)))
    } finally q.stop()
  }

  test("fingerprintStream: streaming rows carry the exact batch fingerprints") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val q = Streaming.fingerprintStream(df)
      .writeStream.format("memory").queryName("fps").outputMode("append").start()
    try {
      val text = "the quick brown fox jumps over the lazy dog"
      input.addData((7L, text))
      q.processAllAvailable()
      val row = spark.table("fps").collect().head
      val batch = Streaming.fingerprintStream(Seq((7L, text)).toDF("doc_id", "text"))
        .collect().head
      assert(row.getLong(0) === 7L)
      assert(row.getLong(1) === batch.getLong(1), "md5-60 diverged batch vs stream")
      assert(row.getInt(2) === batch.getInt(2), "winnow count diverged batch vs stream")
      assert(row.getInt(2) > 0)
    } finally q.stop()
  }

  test("funnelStream: batch mode equals the batch funnel operator exactly") {
    val dir = "/root/testdata/sf0.001"
    val events = graft.Engine.Tables(spark, dir).events
    val got = Streaming.funnelStream(Streaming.funnelInput(events))
      .collect().map(r => (r.user_id, r.stage, r.v_us, r.c_us, r.p_us)).toSet
    val ref = graft.operators.Analytics.funnelStages(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got === ref)
  }

  test("funnelStream: state advances across micro-batches, never regresses") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Streaming.FunnelEvent]
    val q = Streaming.funnelStream(input.toDS())
      .writeStream.format("memory").queryName("funnel")
      .outputMode("update").start()
    try {
      input.addData(
        Streaming.FunnelEvent(1L, 1000L, "view"),
        Streaming.FunnelEvent(1L, 900L, "click"), // before the view → ignored
        Streaming.FunnelEvent(2L, 500L, "click")) // click with no view → stage 0
      q.processAllAvailable()
      input.addData(
        Streaming.FunnelEvent(1L, 2000L, "click"),
        Streaming.FunnelEvent(1L, 3000L, "purchase"),
        Streaming.FunnelEvent(2L, 600L, "view"))
      q.processAllAvailable()
      // last update per user wins
      val last = spark.table("funnel").collect()
        .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .groupBy(_._1).view.mapValues(_.last._2).toMap
      assert(last(1L) === ((3, 1000L, 2000L, 3000L)))
      assert(last(2L) === ((1, 600L, -1L, -1L))) // view arrived; old click stays spent
    } finally q.stop()
  }

  test("dedupContentStream: same text, different timestamps, across batches → one survivor") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = 1_700_000_000_000L // well past epoch so watermark 0 drops nothing
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = Streaming.dedupContentStream(
        input.toDF().toDF("doc_id", "text", "event_ts"))
      .writeStream.format("memory").queryName("dcs").outputMode("append").start()
    try {
      input.addData(
        (1L, "same exact content", new java.sql.Timestamp(base)),
        (2L, "same exact content", new java.sql.Timestamp(base + 60_000)), // in-batch dup, later ts
        (3L, "different content", new java.sql.Timestamp(base)))
      q.processAllAvailable()
      // re-crawl of doc 1's content in a LATER batch, inside the horizon
      input.addData(
        (4L, "same exact content", new java.sql.Timestamp(base + 120_000)),
        (5L, "brand new content", new java.sql.Timestamp(base + 120_000)))
      q.processAllAvailable()
      val ids = spark.table("dcs").select("doc_id").as[Long].collect().sorted
      assert(ids === Seq(1L, 3L, 5L))
    } finally q.stop()
  }

  test("decontaminateStream: leaked 5-gram dropped at ingest; agrees with batch op") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val evalDocs = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val hashes = Streaming.evalShingleHashSet(evalDocs)
    val input = MemoryStream[(Long, String)]
    val q = Streaming.decontaminateStream(
        input.toDF().toDF("doc_id", "text"), hashes)
      .writeStream.format("memory").queryName("decon").outputMode("append").start()
    try {
      input.addData(
        (1L, "intro words then the quick brown fox jumps and tail"), // leak
        (2L, "completely clean document with no overlap at all ok"),
        (3L, "short doc")) // < 5 tokens can never leak
      q.processAllAvailable()
      assert(spark.table("decon").select("doc_id").as[Long].collect().sorted
        === Seq(2L, 3L))
    } finally q.stop()
    // same predicate, batch source: agrees with Dedup.decontaminate on real data
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.01").documents
    val evalSplit = docs.filter(col("doc_id") % 20 === 0)
    val train = docs.filter(col("doc_id") % 20 =!= 0)
    val viaStreamOp = Streaming.decontaminateStream(
        train, Streaming.evalShingleHashSet(evalSplit))
      .select("doc_id").as[Long].collect().sorted.toSeq
    val viaBatchOp = graft.operators.Dedup.decontaminate(train, evalSplit)
      .as[Long].collect().toSeq
    assert(viaStreamOp === viaBatchOp)
  }

  test("evalShingleHashSet fails loudly past maxHashes, pointing at the Bloom path") {
    import spark.implicits._
    val evalDocs = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    // works under the bound…
    assert(Streaming.evalShingleHashSet(evalDocs, maxHashes = 100).nonEmpty)
    // …and an over-bound suite is a loud failure naming the alternative,
    // never a silent multi-GB driver collect
    val e = intercept[IllegalStateException] {
      Streaming.evalShingleHashSet(evalDocs, maxHashes = 3)
    }
    assert(e.getMessage.contains("decontaminateBloom"))
    assert(e.getMessage.contains("more than 3 distinct"))
  }

  test("simhashQuarantineStream flags exactly the docs with an earlier near-dup") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val texts = Map(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "one two three four five six seven eight nine",
      3L -> "red orange yellow green blue indigo violet",
      4L -> "spark window join stream batch merge sort scan",
      5L -> "north south east west up down left right middle",
      6L -> "alpha beta gamma delta epsilon zeta eta theta", // copy of 1
      7L -> "one two three four five six seven eight nine",  // copy of 2 (next batch)
      8L -> "cat dog bird fish horse sheep goat cow hen",
      9L -> "alpha beta gamma delta epsilon zeta eta theta") // copy of 1/6 (closure)
    val input = MemoryStream[(Long, String)]
    val q = Streaming.simhashQuarantineStream(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("quarantine")
      .outputMode("append").start()
    try {
      input.addData((1L to 6L).map(i => (i, texts(i))): _*)
      q.processAllAvailable()
      input.addData((7L to 9L).map(i => (i, texts(i))): _*)
      q.processAllAvailable()
      val flagged = spark.table("quarantine").select("doc_id")
        .as[Long].collect().toSet
      // batch truth: pigeonhole banding is EXACT at hamming <= 3, so the
      // flagged set is precisely the doc_b side of the batch pair set
      // (arrival order == id order here)
      val allDocs = texts.toSeq.map { case (id, t) => (id, t) }
        .toDF("doc_id", "text")
      val expected = graft.operators.Dedup.simhashPairs(allDocs)
        .select("doc_b").as[Long].collect().toSet
      assert(flagged === expected)
      assert(Set(6L, 7L, 9L).subsetOf(flagged)) // copies, incl. cross-batch
      assert(!flagged.contains(8L) && !flagged.contains(1L))
      // the quarantine log names real earlier matches
      val hits = spark.table("quarantine")
        .select("doc_id", "matched_doc", "hamming")
        .as[(Long, Long, Int)].collect()
      hits.foreach { case (d, m, h) =>
        assert(m < d, s"matched_doc $m not earlier than $d")
        assert(h <= 3)
      }
    } finally q.stop()
  }

  test("simhashQuarantineStream FIFO cap evicts oldest, keeps matching on the newest") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // three identical docs under bucketCap = 1: doc 2 matches doc 1,
    // then doc 1 is evicted, so doc 3 matches the surviving doc 2 — the
    // cap trades match ancestry depth for bounded state, newest-first
    val input = MemoryStream[(Long, String)]
    val q = Streaming.simhashQuarantineStream(
        input.toDF().toDF("doc_id", "text"), bucketCap = 1)
      .writeStream.format("memory").queryName("quarantine_fifo")
      .outputMode("append").start()
    try {
      val t = "same text in every copy of this document ok"
      input.addData((1L, t), (2L, t), (3L, t))
      q.processAllAvailable()
      val hits = spark.table("quarantine_fifo")
        .select("doc_id", "matched_doc").as[(Long, Long)].collect().toSet
      assert(hits === Set((2L, 1L), (3L, 2L)))
    } finally q.stop()
  }

  test("decontaminateStream: probe tokenization matches SQL on hostile text; null survives") {
    import spark.implicits._
    // leading tab / newline: SQL trim keeps them, so the SQL-side split
    // yields a leading empty token the probe must reproduce
    val evalDocs = Seq((100L, "\tw1 w2 w3 w4 tail marker alpha beta gamma"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "\tw1 w2 w3 w4 other words beyond the leak"), // leaks ONLY via the leading-empty-token 5-gram ['',w1,w2,w3,w4]
      (2L, "w1 w2 w3 w4 tail padding padding padding"),  // shares the 5-gram 'w1 w2 w3 w4 tail'
      (3L, null.asInstanceOf[String]),                    // null text: batch keeps → stream must too
      (4L, "completely unrelated clean words here today")
    ).toDF("doc_id", "text")
    val viaStream = Streaming.decontaminateStream(
        train, Streaming.evalShingleHashSet(evalDocs))
      .select("doc_id").as[Long].collect().sorted.toSeq
    val viaBatch = graft.operators.Dedup.decontaminate(train, evalDocs)
      .as[Long].collect().toSeq
    assert(viaStream === viaBatch)
    // doc 2 leaks ('w1 w2 w3 w4 tail'); docs 3 and 4 survive either way
    assert(!viaStream.contains(2L))
    assert(viaStream.contains(3L) && viaStream.contains(4L))
  }

  test("budgetAdmitStream: per-lang quota holds across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val q = Streaming.budgetAdmitStream(
        input.toDF().toDF("doc_id", "lang", "text"), budget = 10L)
      .writeStream.format("memory").queryName("admit")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "en", "a b c d"), (2L, "en", "e f g h"), (3L, "fr", "x y"))
      q.processAllAvailable()
      input.addData(
        (4L, "en", "i j k"), (5L, "en", "l m"), (6L, "fr", "z"))
      q.processAllAvailable()
      val got = spark.table("admit").as[Streaming.Admitted]
        .collect().sortBy(_.doc_id).toSeq
      // en spends 4+4 in batch 1, doc 4 opens at 8 < 10 (admitted, spends
      // to 11), doc 5 sees 11 >= 10 → dropped. fr never fills.
      assert(got === Seq(
        Streaming.Admitted(1L, "en", 4L, 0L),
        Streaming.Admitted(2L, "en", 4L, 4L),
        Streaming.Admitted(3L, "fr", 2L, 0L),
        Streaming.Admitted(4L, "en", 3L, 8L),
        Streaming.Admitted(6L, "fr", 1L, 2L)))
      // parity: a sequential per-lang fold over arrival order agrees
      val arrivals = Seq(
        (1L, "en", 4L), (2L, "en", 4L), (3L, "fr", 2L),
        (4L, "en", 3L), (5L, "en", 2L), (6L, "fr", 1L))
      val spent = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      val ref = arrivals.flatMap { case (id, lang, tok) =>
        val off = spent(lang)
        if (off < 10L) { spent(lang) = off + tok; Some((id, lang, tok, off)) }
        else None
      }
      assert(got.map(a => (a.doc_id, a.lang, a.tok, a.off)) === ref)
    } finally q.stop()
  }

  test("qualityFilterStream admits exactly the batch keep set, same scores") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)]
    val q = Streaming.qualityFilterStream(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("qfs").outputMode("append").start()
    try {
      val (a, b) = docs.splitAt(docs.length / 2)
      input.addData(a: _*); q.processAllAvailable()
      input.addData(b: _*); q.processAllAvailable()
      val got = spark.table("qfs").select("doc_id", "z", "prob")
        .as[(Long, Double, Double)].collect().toMap2
      val batch = graft.operators.QualityModel
        .logitScore(docs.toDF("doc_id", "text"))
        .filter(col("keep") === 1)
        .select("doc_id", "z", "prob").as[(Long, Double, Double)]
        .collect().toMap2
      assert(got === batch)
      assert(batch.nonEmpty && batch.size < docs.length) // a genuine cut
      // admission means persistable: the ORIGINAL text must ride through
      assert(spark.table("qfs").columns.toSet ===
        Set("doc_id", "text", "z", "prob", "keep"))
      val admittedText = spark.table("qfs").select("doc_id", "text")
        .as[(Long, String)].collect().toMap
      val srcText = docs.toMap
      assert(admittedText.forall { case (id, t) => srcText(id) == t })
    } finally q.stop()
  }

  test("StreamGate parquet: dedupContentStream equals the batch exact dedup") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // real corpus streamed in doc_id order, then a full RE-CRAWL wave
    // (same texts, new ids, later ts) — the stream must admit exactly
    // one copy per distinct text, which is precisely what the
    // oracle-gated batch dedup_exact computes on the doubled input
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val base = 1_700_000_000_000L
    def wave(rows: Seq[(Long, String)], tsOff: Long) =
      rows.map { case (id, t) =>
        (id, t, new java.sql.Timestamp(base + tsOff + id)) }
    val recrawl = docs.map { case (id, t) => (id + 100000L, t) }
    // the stream is created INSIDE build from the gate-scoped session
    var input: MemoryStream[(Long, String, java.sql.Timestamp)] = null
    val outDir = java.nio.file.Files.createTempDirectory("graft-sgate").toString
    val sunk = graft.streaming.StreamGate.runToParquet(spark,
      { s =>
        input = MemoryStream[(Long, String, java.sql.Timestamp)](
          implicitly[org.apache.spark.sql.Encoder[(Long, String, java.sql.Timestamp)]],
          s.sqlContext)
        Streaming.dedupContentStream(
          input.toDF().toDF("doc_id", "text", "event_ts"))
      }, outDir)(
      () => input.addData(wave(docs, 0): _*),
      () => input.addData(wave(recrawl, 600_000): _*))
    val streamIds = sunk.select("doc_id").as[Long].collect().sorted.toSeq
    val batchTwin = (docs.toSeq ++ recrawl.toSeq).toDF("doc_id", "text")
    val batchIds = graft.operators.Dedup.exactDedupDocs(batchTwin)
      .select("keep_id").as[Long].collect().sorted.toSeq
    assert(streamIds === batchIds)
    assert(streamIds.size === docs.size, "one survivor per distinct text")
    // and the sunk rows carry the full document, not just ids
    assert(sunk.columns.contains("text"))
  }

  test("stream_upsert lands exactly the batch ivfUpsert assignment") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamQueries.upsertVectors(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val batch = graft.operators.Similarity.ivfUpsertDocs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("StreamGate parquet: qualityFilterStream equals the gated batch scorer") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    var input: MemoryStream[(Long, String)] = null
    val outDir = java.nio.file.Files.createTempDirectory("graft-sgate").toString
    val (a, b) = docs.splitAt(docs.length / 2)
    val sunk = graft.streaming.StreamGate.runToParquet(spark,
      { s =>
        input = MemoryStream[(Long, String)](
          implicitly[org.apache.spark.sql.Encoder[(Long, String)]], s.sqlContext)
        Streaming.qualityFilterStream(input.toDF().toDF("doc_id", "text"))
      },
      outDir)(
      () => input.addData(a: _*),
      () => input.addData(b: _*))
    val got = sunk.select("doc_id", "z", "prob")
      .as[(Long, Double, Double)].collect().toMap2
    val batch = graft.operators.QualityModel
      .logitScore(docs.toDF("doc_id", "text"))
      .filter(col("keep") === 1)
      .select("doc_id", "z", "prob").as[(Long, Double, Double)]
      .collect().toMap2
    assert(got === batch)
    assert(batch.nonEmpty && batch.size < docs.size)
  }

  test("StreamGate: an update-mode gate with two emitting micro-batches fails loudly") {
    import spark.implicits._
    // each feed updates a group, so both micro-batches land rows and the
    // read-back would hold a stale batch-0 row beside its batch-1 update
    var input: MemoryStream[Long] = null
    val outDir = java.nio.file.Files.createTempDirectory("graft-sgate").toString
    val err = intercept[IllegalArgumentException] {
      graft.streaming.StreamGate.runToParquet(spark,
        { s =>
          input = MemoryStream[Long](
            implicitly[org.apache.spark.sql.Encoder[Long]], s.sqlContext)
          input.toDF().groupBy("value").count()
        },
        outDir, outputMode = "update")(
        () => input.addData(1L, 2L),
        () => input.addData(2L, 3L))
    }
    assert(err.getMessage.contains("landed 2 micro-batches"), err.getMessage)
  }

  private implicit class TripleOps(s: Array[(Long, Double, Double)]) {
    def toMap2: Map[Long, (Double, Double)] =
      s.map { case (id, z, p) => id -> ((z, p)) }.toMap
  }

  test("mixDriftStream: shares, zero-count cells and drift flag are exact") {
    import spark.implicits._
    // hour 0 mirrors the reference mix exactly (no cell drifts);
    // hour 1 is all-error (every share swings past the threshold
    // except the two types at 0 share / 0 reference)
    def mk(h: Long, t: String, n: Int) =
      Seq.fill(n)((h * H + 1_000_000_000L, t))
    val df = (mk(0, "click", 8) ++ mk(0, "view", 2) ++ mk(1, "error", 10))
      .toDF("ts", "event_type")
    val ref = Map("click" -> 800000L, "view" -> 200000L)
    val got = Streaming.mixDriftStream(df, ref).collect()
      .map(r => (r.getLong(0) / 3_600_000_000L, r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getInt(6)))
      .toMap
    // 2 windows × the full tracked domain, zero-count types included
    assert(got.size === 2 * Streaming.MixEventTypes.size)
    assert(got((0L, "click")) === ((8L, 10L, 800000L, 800000L, 0)))
    assert(got((0L, "view")) === ((2L, 10L, 200000L, 200000L, 0)))
    assert(got((0L, "error")) === ((0L, 10L, 0L, 0L, 0)))
    assert(got((1L, "error")) === ((10L, 10L, 1000000L, 0L, 1)))
    assert(got((1L, "click")) === ((0L, 10L, 0L, 800000L, 1)))
    assert(got((1L, "view")) === ((0L, 10L, 0L, 200000L, 1)))
    assert(got((1L, "purchase")) === ((0L, 10L, 0L, 0L, 0)))
    assert(got((1L, "signup")) === ((0L, 10L, 0L, 0L, 0)))
  }

  test("eventTypeSharesMicro: the type-domain bound fails loudly") {
    import spark.implicits._
    val snap = Seq((0L, "a"), (1L, "b"), (2L, "c"))
      .toDF("ts", "event_type")
    val e = intercept[IllegalArgumentException] {
      Streaming.eventTypeSharesMicro(snap, maxTypes = 2)
    }
    assert(e.getMessage.contains("maxTypes"), e.getMessage)
    // at the bound it still succeeds (limit is maxTypes + 1, not maxTypes)
    val ok = Streaming.eventTypeSharesMicro(snap, maxTypes = 3)
    assert(ok === Map("a" -> 333333L, "b" -> 333333L, "c" -> 333333L))
  }

  test("eventTypeSharesMicro: null types are a \"(null)\" share over a total equal to count()") {
    import spark.implicits._
    val snap = Seq((0L, "click"), (1L, null), (2L, null), (3L, null))
      .toDF("ts", "event_type")
    val total = snap.count()
    val shares = Streaming.eventTypeSharesMicro(snap)
    // denominator 4 = count(): dropping the null rows from the total
    // would make click 1 000 000 µ
    assert(shares === Map("click" -> 1000000L / total, "(null)" -> 3000000L / total))
    assert(shares === Map("click" -> 250000L, "(null)" -> 750000L))
  }

  test("mixDriftStream: streaming append emits only finalized windows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("ts", "event_type")
    val ref = Streaming.eventTypeSharesMicro(
      Seq((0L, "click"), (1L, "view")).toDF("ts", "event_type"))
    val q = Streaming.mixDriftStream(df, ref)
      .writeStream.format("memory").queryName("mixdrift")
      .outputMode("append").start()
    try {
      input.addData((10L * 1_000_000_000L, "click"), (H + 5, "view"))
      q.processAllAvailable()
      // nothing finalized yet: watermark = hour1+ε − 1h < end of hour 0
      assert(spark.table("mixdrift").count() === 0)
      // hour-3 event pushes the watermark past hour 0's end
      input.addData((3 * H, "click"))
      q.processAllAvailable()
      input.addData((3 * H + 1, "view"))
      q.processAllAvailable()
      val rows = spark.table("mixdrift")
        .select("hour_us", "event_type", "n").as[(Long, String, Long)]
        .collect().toSet
      // the final watermark (3h − 1h) finalizes hours 0 and 1, not the
      // hour-3 window still in state; every tracked type per window
      val us = 3_600_000_000L
      assert(rows.map(_._1) === Set(0L, us))
      assert(rows.size === 2 * Streaming.MixEventTypes.size)
      assert(rows(((0L, "click", 1L))))
      assert(rows(((us, "view", 1L))))
    } finally q.stop()
  }

  test("cdcMergeSink: sequential micro-batch merges; upsert wins in-batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc-spec-").toString
    val base = Seq((1L, "one"), (2L, "two"), (3L, "three"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String, String)]
    val changes = input.toDF().toDF("doc_id", "text", "op")
    val q = Streaming.cdcMergeSink(changes, base, s"$dir/state", s"$dir/_ckpt")
    try {
      // batch 0: update doc 1, insert doc 10
      input.addData((1L, "one v2", "upsert"), (10L, "ten", "upsert"))
      q.processAllAvailable()
      val s0 = Streaming.latestSnapshot(spark, s"$dir/state").get
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(s0 === Map(1L -> "one v2", 2L -> "two", 3L -> "three",
        10L -> "ten"))
      // batch 1: delete doc 2; doc 10 BOTH deleted and re-upserted in
      // the same batch — upsert wins (anti-join then union order)
      input.addData((2L, "", "delete"), (10L, "", "delete"),
        (10L, "ten v2", "upsert"))
      q.processAllAvailable()
      val s1 = Streaming.latestSnapshot(spark, s"$dir/state").get
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(s1 === Map(1L -> "one v2", 3L -> "three", 10L -> "ten v2"))
      // both versions remain addressable (the replay story: a re-run of
      // batch 1 would recompute from v=0 and overwrite v=1)
      val v0 = Streaming.latestSnapshot(spark, s"$dir/state",
        below = Some(1L)).get.collect()
      assert(v0.length === 4)
    } finally q.stop()
  }
}
