package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 reader for the reference's native table format — SDFS
  * line-text tables where each line is `<key> <rest...>` and the key is
  * the first space-delimited token (`maple_juice/maple_juice.go`'s
  * keying rule, SURVEY §2.1-E4). `spark.read.format("graft.sources.line")
  * .option("path", dir)` yields a `(key STRING, value STRING)` table.
  *
  * This is E1 ("source scan + line-balanced split") done the way the
  * engine should do it, as a first-class Catalyst source rather than a
  * `textFile().map`:
  *
  *  - **Byte-range splits with newline alignment**: each file splits
  *    into `maxSplitBytes` ranges planned BEFORE any read (so 1000
  *    executors start in parallel on a 100 TB table); a reader whose
  *    range starts mid-file skips to the first line boundary after its
  *    start and reads through its end to finish the final line — every
  *    line is read exactly once, whatever the split size (property-
  *    tested across split sizes in LineTableSpec). The reference
  *    instead pre-splits by LINE COUNT on the master
  *    (`maple_juice.go`'s NUM_LINES partitioning), which costs a full
  *    pre-scan of the input before any map task can start.
  *  - **Column pruning** (`SupportsPushDownRequiredColumns`): a query
  *    touching only `key` never materializes the rest of the line —
  *    visible as `ReadSchema: struct<key:string>` in `.explain`, the
  *    same contract the parquet scans honor.
  *
  * The format is unsplittable-compression-free plain text (the
  * reference's own storage format); UTF-8 with `\n` terminators and an
  * optional trailing `\r` stripped.
  */
class LineTable extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LineTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LineTableImpl(properties.get("path"),
      Option(properties.get("maxSplitBytes")).map(_.toLong)
        .getOrElse(LineTable.DefaultSplitBytes))

  override def supportsExternalMetadata(): Boolean = false
}

object LineTable {
  val Schema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false)))

  /** 128 MiB — the parquet-scan default; override with
    * `.option("maxSplitBytes", n)` (tests use small values to force
    * many ranges per file).
    */
  val DefaultSplitBytes: Long = 128L * 1024 * 1024

  /** The session's Hadoop conf for this source's tasks, broadcast by the
    * driver-side factory. A fresh Hadoop conf built in the task would miss
    * the session's settings (the `file:` binding, `spark.hadoop.*`, viewfs
    * mounts) and re-parse the default XML resources in every task; a conf
    * captured in the factory itself would be serialized into every task.
    */
  private[sources] def taskConf(): Broadcast[SerializableConfiguration] = {
    val sc = SparkSession.active.sparkContext
    sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
  }

  /** The documents fixture as the lines the line-table gates store:
    * each doc's trimmed text, blank and multi-line docs skipped.
    */
  private[graft] def docLines(spark: SparkSession, dir: String): DataFrame =
    graft.Engine.Tables(spark, dir).documents
      .filter(length(trim(col("text"))) > 0 && !col("text").contains("\n"))
      .select(trim(col("text")).as("line"))

  /** Reads the line table at `path` with a 64 KiB split size, so many
    * byte ranges cover its files and the exactly-once alignment is
    * load-bearing.
    */
  private def readSmallSplits(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft.sources.LineTable")
      .option("path", path).option("maxSplitBytes", 65536).load()

  /** The per-key rollup of a (key, value) table that every line-table
    * gate's oracle derives straight from the documents fixture.
    */
  private[graft] def rollup(table: DataFrame): DataFrame =
    table.groupBy(col("key"))
      .agg(count(lit(1)).as("n_lines"), sum(length(col("value"))).as("n_value_chars"))
      .orderBy(col("key"))

  /** [[docLines]] split into the source's (key, value) shape in Spark:
    * key = first token, value = the rest.
    */
  private def keyedDocLines(spark: SparkSession, dir: String): DataFrame =
    docLines(spark, dir).select(
      substring_index(col("line"), " ", 1).as("key"),
      when(col("line").contains(" "),
        expr("substring(line, instr(line, ' ') + 1)")).otherwise(lit(""))
        .as("value"))

  /** Gated entry `line_table_rt`: the full DSv2 WRITE → READ round trip.
    * Documents are split into the source's (key, value) shape in Spark,
    * written through [[LineWriteBuilder]] (first APPENDing a decoy row
    * set, then OVERWRITE with the real data — so the truncate path is
    * load-bearing: a truncate that failed to delete would leave decoy
    * rows in the rollup and hash-mismatch), read back through the same
    * source with a 64 KiB split size, and rolled up per key. Oracle =
    * the same documents-derived rollup as `line_table_keys`: a writer
    * bug (lost row, mangled separator, visible temp file, surviving
    * decoy) cannot hash-match.
    */
  def roundTrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft-linetable-rt-")
    val decoy = spark.range(64).select(
      concat(lit("decoy"), col("id")).as("key"), lit("to be truncated").as("value"))
    decoy.write.format("graft.sources.LineTable").option("path", tmp)
      .mode("append").save()
    keyedDocLines(spark, dir).write.format("graft.sources.LineTable").option("path", tmp)
      .mode("overwrite").save()
    rollup(readSmallSplits(spark, tmp))
  }

  /** Gated entry `stream_line_rt`: the STREAMING write path round trip —
    * the streaming twin of `line_table_rt`. Documents are staged into a
    * line table through the (already-gated) batch writer, streamed back
    * out through the source's MicroBatchStream, sunk through
    * [[LineStreamingWrite]] into a second line table under
    * Trigger.AvailableNow, and the landed table is read back and rolled
    * up per key. Oracle = the same documents-derived rollup
    * (`lineTableOracle`): a streaming-writer bug (lost epoch, double
    * append, visible temp, torn line) cannot hash-match. This closes the
    * LineTable capability asymmetry — a streaming pipeline sinking into
    * the reference's format no longer detours through foreachBatch.
    */
  def streamRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val stage = graft.Scratch.dir("graft-linetable-srt-in-")
    val out = graft.Scratch.dir("graft-linetable-srt-out-")
    keyedDocLines(spark, dir)
      .write.format("graft.sources.LineTable").option("path", stage)
      .mode("overwrite").save()
    val q = spark.readStream.format("graft.sources.LineTable")
      .option("path", stage)
      .option("maxSplitBytes", 65536)
      .load()
      .writeStream.format("graft.sources.LineTable")
      .option("path", s"$out/table")
      .option("checkpointLocation", s"$out/_checkpoint")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    rollup(readSmallSplits(spark, s"$out/table"))
  }

  /** One staged line-table copy of each documents fixture per JVM: the
    * gate under test here is the SCAN (E1 — byte-range splits, exactly-
    * once alignment), and in production the line table EXISTS — it is
    * not re-written before every read. Re-staging per invocation also
    * made the gate's repeat runs measure tempdir write throughput
    * (bimodal ±60% at the 20× probe's 120 MB) instead of the scan. The
    * write paths have their own dedicated gates (`line_table_rt`,
    * `stream_line_rt`), which DO exercise a fresh write every run.
    * Fixture dirs are immutable for the life of a harness JVM, so a
    * plain path-keyed memo is sound.
    */
  private val stagedDocs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Gated entry `line_table_keys`: the documents fixture round-trips
    * through the reference's own table format — each doc's text becomes
    * one line in a 3-file line-text table, read back through THIS source
    * with a 64 KiB split size, then rolled up per key (= first token).
    * The DuckDB oracle derives the same rollup from the documents table
    * directly: a split-boundary bug (lost, duplicated, or torn line)
    * cannot hash-match.
    */
  def keyStats(spark: SparkSession, dir: String): DataFrame = {
    val tmp = stagedDocs.computeIfAbsent(dir, { d =>
      val t = graft.Scratch.dir("graft-linetable-")
      docLines(spark, d).repartition(3).write.mode("overwrite").text(t)
      t
    })
    rollup(readSmallSplits(spark, tmp))
  }
}

private class LineTableImpl(path: String, splitBytes: Long)
    extends Table with SupportsRead with SupportsWrite {
  require(path != null, "graft.sources.line: missing required option 'path'")
  require(splitBytes > 0, s"maxSplitBytes must be positive, got $splitBytes")

  override def name(): String = s"line($path)"
  override def schema(): StructType = LineTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LineScanBuilder(path, splitBytes)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // the source's one schema: (key STRING, value STRING). A mismatched
    // frame is a plan-time error, not a corrupted table.
    val got = info.schema().fields.map(f => (f.name, f.dataType)).toSeq
    val want = LineTable.Schema.fields.map(f => (f.name, f.dataType)).toSeq
    require(got == want,
      s"graft.sources.line: write schema must be (key STRING, value STRING), got ${info.schema().simpleString}")
    new LineWriteBuilder(path)
  }
}

/** DSv2 write path (E11 as a first-class sink): each task streams its
  * rows as `<key> <value>\n` (bare `<key>\n` for an empty value — the
  * exact inverse of [[LineReader]]'s first-space split, so round-trips
  * are byte-faithful) into a dot-prefixed temp file the reader's
  * file filter ignores; job commit renames temps to visible
  * `part-*.line` names, job abort deletes them. SaveMode.Append adds to
  * the table; SaveMode.Overwrite arrives as truncate-then-append
  * (TableCapability.TRUNCATE) and deletes the previously visible data
  * files inside the same job commit. This is the standard
  * temp-plus-rename commit protocol: a failed or speculative task
  * attempt can never leave a half-written VISIBLE file, matching the
  * atomicity the parquet sinks get from their commit coordinator.
  */
private class LineWriteBuilder(path: String)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new LineBatchWrite(path, doTruncate)
    override def toStreaming: StreamingWrite = {
      require(!doTruncate,
        "graft.sources.line: streaming writes are append-only (the format " +
          "is the reference's append-concat sink); use a batch overwrite to truncate")
      new LineStreamingWrite(path)
    }
  }
}

private final case class LineCommit(tmp: String, finalName: String)
    extends WriterCommitMessage

private class LineBatchWrite(path: String, truncate: Boolean) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new LineWriterFactory(path, LineTable.taskConf())

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    if (truncate && fs.exists(dir))
      // delete exactly what the reader would have seen — the same
      // visibility filter LineScan.fileLengths applies
      LineScan.fileLengths(path).keys.foreach(f => fs.delete(new Path(f), false))
    messages.foreach { case LineCommit(tmp, finalName) =>
      val ok = fs.rename(new Path(tmp), new Path(dir, finalName))
      require(ok, s"graft.sources.line: commit rename failed for $tmp")
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    messages.filter(_ != null).foreach { case LineCommit(tmp, _) =>
      fs.delete(new Path(tmp), false)
    }
  }
}

/** E11's streaming face (STREAMING_WRITE): each micro-batch epoch
  * appends through the same temp-plus-rename protocol as the batch
  * writer, with EPOCH-ADDRESSED final names (`part-e<epoch>-<partition>
  * .line` — deterministic per (epochId, partitionId), no taskId) and a
  * per-epoch MANIFEST (`_epoch-<epoch>.committed`, written last, listing
  * the epoch's exact file set — underscore-prefixed, so invisible to
  * [[LineScan.fileLengths]]) whose presence is the epoch's commit
  * record. Replay after a failure between sink commit and checkpoint
  * commit sees the manifest and drops its temps — never appends twice.
  * A PARTIAL prior attempt (crash mid-rename: files visible, no
  * manifest) is wiped wholesale before the replay's files rename in, so
  * idempotence holds even when the replay plans a DIFFERENT partition
  * count (e.g. a changed `maxSplitBytes` redistributes rows across
  * partition ids — per-file existence checks alone would merge the two
  * attempts and double-append the redistributed rows; this is the same
  * pinned-file-set discipline as FileStreamSink's metadata log). Within
  * an epoch, speculative task twins stay apart via taskId-suffixed temp
  * names; only the committed attempt's message gets renamed. Streaming
  * writes are append-only (the format is the reference's append-concat
  * sink, SURVEY §2.1-E11); truncation is the batch overwrite path's job.
  */
private class LineStreamingWrite(path: String) extends StreamingWrite {
  // one broadcast per query, not per epoch
  private lazy val taskConf = LineTable.taskConf()

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new LineStreamingWriterFactory(path, taskConf)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val manifest = new Path(dir, LineStreamingWrite.manifestName(epochId))
    if (fs.exists(manifest)) {
      // replay of a fully-committed epoch: its data is already visible
      // (and its file set pinned by the manifest) — drop the replay's
      // temps whatever partitioning it planned with
      messages.foreach { case LineCommit(tmp, _) =>
        fs.delete(new Path(tmp), false)
      }
    } else {
      // no manifest ⇒ the epoch never fully committed. Anything already
      // visible under this epoch's names is a failed attempt's partial
      // rename set — possibly under a different partition count — so the
      // epoch is replaced wholesale, never merged across attempts.
      val prefix = f"part-e$epochId%05d-"
      if (fs.exists(dir)) fs.listStatus(dir)
        .filter(s => s.isFile && s.getPath.getName.startsWith(prefix))
        .foreach(s => fs.delete(s.getPath, false))
      messages.foreach { case LineCommit(tmp, finalName) =>
        val ok = fs.rename(new Path(tmp), new Path(dir, finalName))
        require(ok, s"graft.sources.line: streaming commit rename failed for $tmp")
      }
      // manifest LAST: a crash before this line re-runs the wipe+rename,
      // a crash after it makes every future replay a no-op
      val out = fs.create(manifest, false)
      try messages.foreach { case LineCommit(_, finalName) =>
        out.write((finalName + "\n").getBytes("UTF-8"))
      } finally out.close()
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    messages.filter(_ != null).foreach { case LineCommit(tmp, _) =>
      fs.delete(new Path(tmp), false)
    }
  }
}

private object LineStreamingWrite {
  /** The epoch's commit-record name — underscore-prefixed so the scan's
    * visibility filter never reads it as data.
    */
  def manifestName(epochId: Long): String = f"_epoch-$epochId%05d.committed"
}

private class LineStreamingWriterFactory(path: String,
    conf: Broadcast[SerializableConfiguration]) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new LineWriter(path, conf,
      finalName = f"part-e$epochId%05d-$partitionId%05d.line",
      tmpSuffix = s".$taskId.tmp")
}

private class LineWriterFactory(path: String,
    conf: Broadcast[SerializableConfiguration]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    // taskId (globally unique per attempt) in the FINAL name: batch
    // commits happen exactly once per job, so uniqueness is all that's
    // needed and speculative twins can never collide
    new LineWriter(path, conf, finalName = f"part-$partitionId%05d-$taskId.line",
      tmpSuffix = ".tmp")
}

private class LineWriter(path: String, conf: Broadcast[SerializableConfiguration],
    finalName: String, tmpSuffix: String) extends DataWriter[InternalRow] {
  // dot prefix = invisible to LineScan.fileLengths until commit renames
  private val dir = new Path(path)
  private val tmpPath = new Path(dir, s".$finalName$tmpSuffix")
  private val fs = {
    val f = dir.getFileSystem(conf.value.value)
    f.mkdirs(dir)
    f
  }
  private val out = new java.io.BufferedOutputStream(fs.create(tmpPath, true), 1 << 16)

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(0) && !row.isNullAt(1),
      "graft.sources.line: key/value must be non-null (the format has no null spelling)")
    val key = row.getUTF8String(0).toString
    val value = row.getUTF8String(1).toString
    // the format cannot represent these — fail the row loudly rather
    // than write a table that reads back as different rows
    require(key.nonEmpty && key.indexOf(' ') < 0 && key.indexOf('\n') < 0,
      s"graft.sources.line: key must be non-empty with no space/newline, got '$key'")
    require(value.indexOf('\n') < 0,
      "graft.sources.line: value must not contain a newline")
    val line = if (value.isEmpty) key else s"$key $value"
    out.write(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.write('\n')
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    LineCommit(tmpPath.toString, finalName)
  }

  override def abort(): Unit = {
    try out.close() catch { case _: Throwable => () }
    fs.delete(tmpPath, false)
  }

  override def close(): Unit = ()
}

private class LineScanBuilder(path: String, splitBytes: Long)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = LineTable.Schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new LineScan(path, splitBytes, required)
}

private class LineScan(path: String, splitBytes: Long, required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val lens = LineScan.fileLengths(path)
    lens.toSeq.sortBy(_._1).flatMap { case (file, n) =>
      LineScan.ranges(file, 0L, n, splitBytes)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LineReaderFactory(required.fieldNames.toSeq, LineTable.taskConf())

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new LineMicroBatchStream(path, splitBytes, required)
}

private object LineScan {
  /** Current (file → byte length) snapshot of the table directory. */
  def fileLengths(path: String): Map[String, Long] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    require(fs.exists(p), s"graft.sources.line: no such path $path")
    (if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq
     else Seq(fs.getFileStatus(p)))
      .filter(s => s.isFile && s.getLen > 0 &&
        !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(s => s.getPath.toString -> s.getLen).toMap
  }

  def ranges(file: String, from: Long, to: Long,
      splitBytes: Long): Seq[LinePartition] =
    (from until to by splitBytes).map(start =>
      LinePartition(file, start, math.min(start + splitBytes, to)))
}

/** Streaming read of an APPEND-ONLY line table: the offset is the
  * per-file byte-length snapshot, each micro-batch covers exactly the
  * [committed, latest) byte range of every file (newline-aligned by the
  * same reader — correct as long as producers append whole terminated
  * lines, the format's append contract), and new files join at offset
  * 0. Exactly-once: ranges are a pure function of (start, end) offsets,
  * so a replayed batch re-reads the identical byte ranges.
  */
private class LineMicroBatchStream(path: String, splitBytes: Long,
    required: StructType) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // AvailableNow contract: snapshot the end offset once at query start,
  // drain up to it, terminate — later appends wait for the next run
  private var availableNowCap: Option[Map[String, Long]] = None
  // one broadcast per query, not per micro-batch
  private lazy val taskConf = LineTable.taskConf()

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(LineScan.fileLengths(path))

  override def initialOffset(): Offset = LineOffset(Map.empty)

  override def latestOffset(): Offset =
    LineOffset(availableNowCap.getOrElse(LineScan.fileLengths(path)))

  // SupportsAdmissionControl (via SupportsTriggerAvailableNow): this
  // source applies no rate limiting — every batch admits the full delta
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    latestOffset()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = LineOffset.parse(start)
    val e = LineOffset.parse(end)
    e.toSeq.sortBy(_._1).flatMap { case (file, endLen) =>
      val from = s.getOrElse(file, 0L)
      if (endLen > from) LineScan.ranges(file, from, endLen, splitBytes)
      else Seq.empty
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LineReaderFactory(required.fieldNames.toSeq, taskConf)

  override def deserializeOffset(json: String): Offset =
    LineOffset(LineOffset.fromJson(json))
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private case class LineOffset(lens: Map[String, Long]) extends Offset {
  // deterministic key order so offset equality is textual equality
  override def json(): String = lens.toSeq.sorted
    .map { case (f, n) => s"""${LineOffset.q(f)}:$n""" }
    .mkString("{", ",", "}")
}

private object LineOffset {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString
  } + "\""

  def parse(o: Offset): Map[String, Long] = o match {
    case LineOffset(m) => m
    case other => fromJson(other.json())
  }

  /** Minimal parser for the flat {"file":len,...} object [[LineOffset.json]]
    * emits (keys may contain escaped quotes/backslashes, values are
    * plain longs).
    */
  def fromJson(json: String): Map[String, Long] = {
    val body = json.trim.stripPrefix("{").stripSuffix("}")
    if (body.isEmpty) Map.empty
    else {
      val out = Map.newBuilder[String, Long]
      var i = 0
      while (i < body.length) {
        require(body.charAt(i) == '"', s"bad offset json at $i: $json")
        i += 1
        val sb = new StringBuilder
        while (body.charAt(i) != '"') {
          if (body.charAt(i) == '\\') i += 1
          sb.append(body.charAt(i)); i += 1
        }
        i += 1 // closing quote
        require(body.charAt(i) == ':', s"bad offset json at $i: $json")
        i += 1
        val numStart = i
        while (i < body.length && body.charAt(i) != ',') i += 1
        out += sb.toString -> body.substring(numStart, i).toLong
        if (i < body.length) i += 1 // comma
      }
      out.result()
    }
  }
}

private case class LinePartition(file: String, start: Long, end: Long)
    extends InputPartition

private class LineReaderFactory(fields: Seq[String],
    conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new LineReader(partition.asInstanceOf[LinePartition], fields, conf)
}

/** Reads the lines whose FIRST byte falls inside [start, end): skip to
  * the first boundary after `start` (unless at file start), finish the
  * last line past `end`. Exactly-once coverage for any split plan.
  */
private class LineReader(part: LinePartition, fields: Seq[String],
    conf: Broadcast[SerializableConfiguration]) extends PartitionReader[InternalRow] {
  private val p = new Path(part.file)
  private val in = p.getFileSystem(conf.value.value).open(p)
  private var pos: Long = part.start
  private var row: InternalRow = _

  // align to the first line that STARTS inside the range
  if (part.start > 0) {
    in.seek(part.start - 1)
    pos = part.start - 1
    var b = in.read(); pos += 1
    while (b != -1 && b != '\n') { b = in.read(); pos += 1 }
  } else in.seek(0)

  override def next(): Boolean = {
    if (pos >= part.end) { row = null; return false }
    val buf = new java.io.ByteArrayOutputStream(96)
    var b = in.read(); pos += 1
    if (b == -1) { row = null; return false }
    while (b != -1 && b != '\n') { buf.write(b); b = in.read(); pos += 1 }
    var bytes = buf.toByteArray
    if (bytes.nonEmpty && bytes.last == '\r') bytes = bytes.dropRight(1)
    val line = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    val sp = line.indexOf(' ')
    val key = if (sp < 0) line else line.substring(0, sp)
    val value = if (sp < 0) "" else line.substring(sp + 1)
    val vals = fields.map {
      case "key" => UTF8String.fromString(key)
      case "value" => UTF8String.fromString(value)
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }
    row = new GenericInternalRow(vals.toArray[Any])
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}
