package graft.sources

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class LineTableSpec extends AnyFunSuite with SparkTestSession {

  private def write(dir: String, name: String, content: String): Unit = {
    val p = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.write(p, content.getBytes("UTF-8"))
  }

  private def read(dir: String, split: Long) =
    spark.read.format("graft.sources.LineTable")
      .option("path", dir).option("maxSplitBytes", split).load()

  test("stream offsets: quote, backslash and non-ASCII paths round-trip; sorted keys") {
    val lens = Map("/data/z.txt" -> 3L, "/data/a\"q\\b/caf\u00e9.txt" -> 12L)
    // offset JSON as checkpoints already hold it: `"` and `\` escaped,
    // every other character as it is
    val written = "{\"/data/a\\\"q\\\\b/caf\u00e9.txt\":12,\"/data/z.txt\":3}"
    assert(LineOffset(lens).json() === written)
    assert(LineOffset.fromJson(written) === lens)
    assert(LineOffset.fromJson(LineOffset(lens).json()) === lens)
    assert(LineOffset.fromJson(LineOffset(Map.empty).json()) === Map.empty)
  }

  test("every line read exactly once at ANY split size") {
    val dir = graft.Scratch.dir("lt-split-")
    val lines = (0 until 200).map(i => s"key${i % 7} payload $i with words")
    write(dir, "part-0.txt", lines.take(120).mkString("\n") + "\n")
    write(dir, "part-1.txt", lines.drop(120).mkString("\n") + "\n")
    val expect = lines.map { l =>
      val sp = l.indexOf(' '); (l.substring(0, sp), l.substring(sp + 1))
    }.groupBy(identity).view.mapValues(_.size).toMap
    // split sizes bracketing every regime: sub-line, line-ish, multi-line,
    // file-sized, and whole-table
    for (split <- Seq(1L, 7L, 30L, 101L, 4096L, 1L << 30)) {
      val got = read(dir, split).collect()
        .map(r => (r.getString(0), r.getString(1)))
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(got === expect, s"split=$split")
    }
  }

  test("CRLF terminators, no-newline EOF, keyless and empty-value lines") {
    val dir = graft.Scratch.dir("lt-edge-")
    // CRLF line; LF line; line with no space (all key); final line
    // without a terminator; a key with empty value ("k " → value "")
    write(dir, "f.txt", "a one two\r\nb three\nnospace\nk \nc final")
    val got = read(dir, 8).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(
      ("a", "one two"), ("b", "three"), ("nospace", ""),
      ("k", ""), ("c", "final")))
  }

  test("column pruning reaches the scan: key-only query never reads value") {
    val dir = graft.Scratch.dir("lt-prune-")
    write(dir, "f.txt", "a 1\nb 2\na 3\n")
    val df = read(dir, 1L << 20).select("key")
    val scanLine = df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("BatchScan")).getOrElse(fail("no BatchScan in plan"))
    assert(scanLine.contains("key#"), scanLine)
    assert(!scanLine.contains("value#"), s"value not pruned: $scanLine")
    assert(df.collect().map(_.getString(0)).sorted.toSeq === Seq("a", "a", "b"))
  }

  test("streaming: staged appends and new files land exactly once") {
    val dir = graft.Scratch.dir("lt-stream-")
    write(dir, "a.txt", "k1 one\nk2 two\n")
    def append(name: String, content: String): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
        content.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    val landed = graft.streaming.StreamGate.runToParquet(spark,
      s => s.readStream.format("graft.sources.LineTable")
        .option("path", dir).option("maxSplitBytes", 8).load(),
      graft.Scratch.dir("lt-stream-out-"))(
      // batch 2: whole-line append to the existing file (the format's
      // append contract) — the new range starts exactly at the old length
      () => append("a.txt", "k1 three\nk3 four\n"),
      // batch 3: a brand-new file joins at offset 0
      () => append("b.txt", "k2 five\n"))
    val got = landed.collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(got === Seq(("k1", "one"), ("k1", "three"), ("k2", "five"),
      ("k2", "two"), ("k3", "four")))
  }

  test("DSv2 write: append adds, overwrite truncates, rows round-trip exactly") {
    import spark.implicits._
    val dir = graft.Scratch.dir("lt-write-")
    def save(rows: Seq[(String, String)], mode: String): Unit =
      rows.toDF("key", "value").repartition(3)
        .write.format("graft.sources.LineTable").option("path", dir)
        .mode(mode).save()
    save(Seq(("a", "one two"), ("b", ""), ("c", "three")), "append")
    save(Seq(("d", "four")), "append")
    assert(read(dir, 8).collect().map(r => (r.getString(0), r.getString(1))).toSet
      === Set(("a", "one two"), ("b", ""), ("c", "three"), ("d", "four")))
    // overwrite = truncate + write: nothing from before survives
    save(Seq(("z", "only"), ("y", "rows")), "overwrite")
    assert(read(dir, 1024).collect().map(r => (r.getString(0), r.getString(1))).toSet
      === Set(("z", "only"), ("y", "rows")))
    // no temp litter after the commits (Hadoop's LocalFileSystem leaves
    // dot-hidden .crc checksum sidecars — reader-invisible, not ours)
    val leftover = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => (n.startsWith(".") || n.endsWith(".tmp")) && !n.endsWith(".crc"))
    assert(leftover.isEmpty, leftover.mkString(","))
  }

  test("DSv2 write: unrepresentable rows fail loudly, bad schema is plan-time") {
    import spark.implicits._
    val dir = graft.Scratch.dir("lt-write-bad-")
    def attempt(rows: Seq[(String, String)]): Throwable = intercept[Exception] {
      rows.toDF("key", "value").write.format("graft.sources.LineTable")
        .option("path", dir).mode("append").save()
    }
    def rootMsgs(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).take(8)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    // a key with a space would read back as a different (key, value) split
    assert(rootMsgs(attempt(Seq(("bad key", "v")))).contains("no space/newline"))
    // a value with a newline would read back as two rows
    assert(rootMsgs(attempt(Seq(("k", "line1\nline2")))).contains("newline"))
    // failed jobs must not leave visible data
    assert(read(dir, 1024).count() === 0L)
    // plan-time schema mismatch: either Spark's own DSv2 compatibility
    // check or the writer's schema require — loud either way, no write
    intercept[Exception] {
      Seq((1L, "x")).toDF("id", "value").write
        .format("graft.sources.LineTable").option("path", dir)
        .mode("append").save()
    }
    assert(read(dir, 1024).count() === 0L)
  }

  test("STREAMING_WRITE: rows land exactly once; epoch replay cannot double-append") {
    val in = graft.Scratch.dir("lt-sw-in-")
    val out = graft.Scratch.dir("lt-sw-out-") + "/table"
    val ckpt = graft.Scratch.dir("lt-sw-ckpt-")
    write(in, "a.txt", "k1 one\nk2 two\nk1 three\n")
    write(in, "b.txt", "k3 four\n")
    def run(): Unit = {
      val q = spark.readStream.format("graft.sources.LineTable")
        .option("path", in).option("maxSplitBytes", 8).load()
        .writeStream.format("graft.sources.LineTable")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    val expect = Seq(("k1", "one"), ("k1", "three"), ("k2", "two"), ("k3", "four"))
    def landed(): Seq[(String, String)] = read(out, 8).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(landed() === expect)
    // Simulate the replay window the epoch-addressed names exist for:
    // the sink committed but the checkpoint's batch commit never landed
    // (driver died in between). Deleting the commit marker makes the
    // restart re-execute the epoch end-to-end; the sink must recognize
    // the already-visible epoch files and skip, never append twice.
    val commitMarker = java.nio.file.Paths.get(ckpt, "commits", "0")
    assert(java.nio.file.Files.deleteIfExists(commitMarker),
      s"expected a batch-0 commit marker at $commitMarker")
    // also drop LocalFS's checksum sidecar, or the replayed metadata-log
    // write fails on the stale .crc instead of re-committing the batch
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".0.crc"))
    run()
    assert(landed() === expect, "epoch replay must be idempotent")
    // no temp litter from either attempt (.crc sidecars are Hadoop's)
    val leftover = new java.io.File(out).listFiles().map(_.getName)
      .filter(n => (n.startsWith(".") || n.endsWith(".tmp")) && !n.endsWith(".crc"))
    assert(leftover.isEmpty, leftover.mkString(","))
    // the epoch's commit record exists and pins its exact file set
    val manifest = java.nio.file.Paths.get(out, "_epoch-00000.committed")
    assert(java.nio.file.Files.exists(manifest), "epoch manifest must exist")
    val pinned = java.nio.file.Files.readAllLines(manifest)
      .toArray.map(_.toString).toSeq
    val visible = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("part-e00000-")).sorted.toSeq
    assert(pinned.sorted === visible,
      "manifest must list exactly the epoch's visible files")
  }

  test("STREAMING_WRITE: partial epoch + replan with a different split sizing cannot double-append") {
    val in = graft.Scratch.dir("lt-sw2-in-")
    val out = graft.Scratch.dir("lt-sw2-out-") + "/table"
    val ckpt = graft.Scratch.dir("lt-sw2-ckpt-")
    write(in, "a.txt", "k1 one\nk2 two\nk1 three\n")
    write(in, "b.txt", "k3 four\n")
    def run(splitBytes: Int): Unit = {
      val q = spark.readStream.format("graft.sources.LineTable")
        .option("path", in).option("maxSplitBytes", splitBytes).load()
        .writeStream.format("graft.sources.LineTable")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run(8) // many small splits → many epoch part files
    val expect = Seq(("k1", "one"), ("k1", "three"), ("k2", "two"), ("k3", "four"))
    def landed(): Seq[(String, String)] = read(out, 1024).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(landed() === expect)
    // Simulate a crash MID-COMMIT: some epoch files renamed in, but the
    // manifest (written last) never landed — and the restart replans the
    // source with a coarser maxSplitBytes, so the replay's rows land
    // under a DIFFERENT partition-id distribution. A per-file existence
    // check would keep the old attempt's files AND rename in the new
    // ids — double-appending the redistributed rows; the manifest
    // protocol must wipe the partial attempt and land exactly one copy.
    def rmOut(name: String): Unit = {
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(out, name))
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(out, s".$name.crc"))
    }
    rmOut("_epoch-00000.committed")
    val parts = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("part-e00000-")).sorted
    assert(parts.length > 1, s"fixture needs >1 epoch file, got ${parts.length}")
    rmOut(parts.head) // partial: first attempt lost one of its files
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", "0"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".0.crc"))
    run(1024) // replay under ONE split → one part file, different ids
    assert(landed() === expect,
      "partial-epoch replay under a new partitioning must not double-append")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(out, "_epoch-00000.committed")))
  }

  test("stream_line_rt gate: streaming round trip equals the batch rollup") {
    val got = LineTable.streamRoundTrip(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = LineTable.keyStats(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("hidden and empty files are skipped; missing path fails loudly") {
    val dir = graft.Scratch.dir("lt-files-")
    write(dir, "f.txt", "a 1\n")
    write(dir, "_SUCCESS", "")
    write(dir, ".hidden", "z 9\n")
    write(dir, "empty.txt", "")
    assert(read(dir, 1024).count() === 1L)
    val ex = intercept[Exception] {
      read(dir + "/definitely-missing", 1024).collect()
    }
    assert(ex.getMessage.contains("no such path"), ex.getMessage)
  }

  test("tasks resolve paths through the session's Hadoop conf: a viewfs mount only it has") {
    import spark.implicits._
    val root = java.nio.file.Paths.get(graft.Scratch.dir("lt-viewfs-"))
    spark.sparkContext.hadoopConfiguration.set(
      "fs.viewfs.mounttable.graftlinetable.link./t", root.toUri.toString)
    val table = "viewfs://graftlinetable/t/table"
    val rows = (0 until 50).map(i => (s"k${i % 5}", s"v $i"))
    rows.toDF("key", "value").write.format("graft.sources.LineTable")
      .option("path", table).mode("append").save()
    val got = read(table, 64).collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.sorted.toSeq === rows.sorted)
    assert(java.nio.file.Files.list(root.resolve("table")).count() > 0)
  }
}
