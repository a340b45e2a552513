package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The reference engine's job surface — `maple` (map) and `juice` (reduce)
  * over line-oriented data (SURVEY.md §2.1) — rebuilt on Spark in two
  * fidelity tiers:
  *
  *  - **native tier**: user logic as Scala functions compiled into Spark
  *    tasks (`flatMap` for maple; one key-partitioned shuffle +
  *    partition-local run grouping for juice). This is the primary
  *    surface; Catalyst/Tungsten manage the shuffle, spill and retry that
  *    the reference hand-rolls over raw TCP
  *    (`file_system/file_system.go:89-119, 985-1029`).
  *  - **literal tier**: user logic as an external executable with the exact
  *    stdin/stdout line contract of the reference
  *    (`maple_juice/maple_juice.go:241-264`: `./exe < input > output`).
  *    Maple pipes each partition ("clip") through the executable once —
  *    identical to E3; juice launches the executable once per key with the
  *    key's full line group — identical to E10.
  *
  * Data contract (SURVEY §1.1): a maple output line is
  * `<key><SPACE><value...>`; the shuffle key is the first space-delimited
  * token (`maple_juice.go:280-282`), and the juice executable receives the
  * *whole* original lines of one key per invocation. Group contents are
  * unordered multisets — the reference's shuffle-merge appends lines from a
  * goroutine per line (`file_system.go:1017-1021`), so no consumer may
  * assume order; tests compare as multisets.
  *
  * Partitioning (E5/E8): the reference places keys by FNV-1a hash mod N or
  * by contiguous "range" blocks. Placement is not output-visible, so the
  * native hash partitioner (Murmur3 via `repartition(n, key)`) is used;
  * `Range` maps to `repartitionByRange`, which implements the *intended*
  * contiguous-key-range semantics — the reference's own range branch
  * silently drops overflow keys (`maple_juice.go:695-705`, SURVEY §2.1-E8),
  * a bug we do not reproduce.
  *
  * Scale notes: numTasks in the reference is bounded by cluster size and
  * tasks run sequentially (`maple_juice.go:564`); here numTasks is just the
  * shuffle partition count, tasks run fully parallel, and per-key state
  * streams through `flatMapGroups` iterators (no unbounded in-memory map,
  * unlike `mj_exe/juice_wordcount.go:13-26`).
  */
object MapleJuice {

  sealed trait Partitioning
  case object Hash extends Partitioning
  case object Range extends Partitioning

  /** Key extraction per the reference contract: first space-delimited token. */
  private def keyed(lines: Dataset[String]): DataFrame =
    lines.toDF("line")
      .select(substring_index(col("line"), " ", 1).as("key"), col("line"))

  // ------------------------------------------------------------ native tier

  /** Native maple: apply `f` (line → output lines) and key the results.
    * Returns (key, line) ready for [[juice]]. `numTasks` mirrors the
    * reference's clip count — it only sets input parallelism.
    */
  def maple(lines: Dataset[String], numTasks: Int)(
      f: String => IterableOnce[String]): DataFrame = {
    import lines.sparkSession.implicits._
    val in = if (numTasks > 0) lines.repartition(numTasks) else lines
    keyed(in.flatMap(f))
  }

  /** Native juice: group the keyed lines and apply `f` (key, lines →
    * output lines) once per key, mirroring one reduce-executable invocation
    * per key file (E9).
    *
    * ONE shuffle, not two: the repartition already co-locates each key,
    * so grouping happens partition-locally — sort within the partition
    * by key, then walk consecutive runs, calling `f` once per run. The
    * previous `groupByKey.flatMapGroups` spelling keyed on an opaque
    * lambda, which Catalyst cannot match against the existing
    * partitioning, so it inserted a SECOND corpus-sized exchange after
    * the first (for Range, the range exchange then carried no semantic
    * weight at all). One key's lines are buffered in memory per call —
    * exactly the reference's per-key intermediate file (E6/E9), and the
    * same bound `flatMapGroups` gave in practice since every juice
    * function and external exe consumes its group fully.
    */
  def juice(keyedLines: DataFrame, numTasks: Int,
      partitioning: Partitioning = Hash)(
      f: (String, Iterator[String]) => IterableOnce[String]): Dataset[String] = {
    import keyedLines.sparkSession.implicits._
    val parted = partitioning match {
      case Hash  => keyedLines.repartition(numTasks, col("key"))
      case Range => keyedLines.repartitionByRange(numTasks, col("key"))
    }
    parted.select(col("key"), col("line")).as[(String, String)]
      .sortWithinPartitions("key")
      .mapPartitions { rows =>
        val it = rows.buffered
        new Iterator[String] {
          private var out: Iterator[String] = Iterator.empty
          private def advance(): Unit =
            while (!out.hasNext && it.hasNext) {
              val k = it.head._1
              val run = scala.collection.mutable.ArrayBuffer.empty[String]
              while (it.hasNext && it.head._1 == k) run += it.next()._2
              out = f(k, run.iterator).iterator
            }
          def hasNext: Boolean = { advance(); out.hasNext }
          def next(): String = { advance(); out.next() }
        }
      }
  }

  // ------------------------------------------------------------ literal tier

  /** Literal maple: pipe each partition through `cmd` exactly as the
    * reference runs `sh -c "./exe < clip > out"` per clip (E3), then key
    * the output lines by first token (E4).
    */
  def mapleExe(lines: Dataset[String], cmd: String, numTasks: Int): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    val in = if (numTasks > 0) lines.repartition(numTasks) else lines
    // Seq form: pipe(String) would whitespace-tokenize the command; the
    // reference invokes exes through `/bin/sh -c` too (maple_juice.go:246)
    keyed(spark.createDataset(in.rdd.pipe(Seq("/bin/sh", "-c", cmd))))
  }

  /** Literal juice: one `cmd` process per key, fed that key's lines on
    * stdin, stdout lines collected — the exact E10 contract. Processes are
    * launched inside executor tasks (never on the driver).
    */
  def juiceExe(keyedLines: DataFrame, cmd: String, numTasks: Int,
      partitioning: Partitioning = Hash): Dataset[String] =
    juice(keyedLines, numTasks, partitioning) { (_, lines) =>
      pipeProcess(cmd, lines)
    }

  /** Run one external process, write `input` lines to stdin, return stdout
    * lines. Stderr is inherited; a non-zero exit raises, failing the Spark
    * task (which then retries — actual task-level recovery, vs the
    * reference's stubbed TODO at `maple_juice.go:739-744`).
    */
  private def pipeProcess(cmd: String, input: Iterator[String]): Seq[String] = {
    val pb = new ProcessBuilder("/bin/sh", "-c", cmd)
    // stderr must go somewhere a human sees AND never back-pressure the
    // child: an unread PIPE blocks the exe after ~64 KB of diagnostics.
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val proc = pb.start()
    val writer = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(proc.getOutputStream, "UTF-8"))
    val feeder = new Thread(() => {
      try input.foreach(writer.println) finally writer.close()
    })
    feeder.setDaemon(true)
    feeder.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8")
      .getLines().toVector
    feeder.join()
    val code = proc.waitFor()
    require(code == 0, s"juice exe '$cmd' exited $code")
    out
  }

  // ------------------------------------------------------------ sink

  /** Keyed (key, line) rows → the line-table (key, value) shape the
    * DSv2 [[graft.sources.LineTable]] writer stores: value is the line
    * minus its leading `<key> ` (empty when the line IS the key). The
    * inverse is [[fromLineTable]]; a trailing-space-only value
    * canonicalizes to empty — the same equivalence the read-side
    * first-space split already implies.
    */
  def toLineTable(keyed: DataFrame): DataFrame =
    keyed.select(col("key"),
      when(length(col("line")) > length(col("key")),
        expr("substring(line, length(key) + 2)")).otherwise(lit(""))
        .as("value"))

  /** Line-table (key, value) rows → the keyed (key, line) shape
    * [[juice]]/[[juiceExe]] consume. */
  def fromLineTable(table: DataFrame): DataFrame =
    table.select(col("key"),
      when(col("value") === "", col("key"))
        .otherwise(concat(col("key"), lit(" "), col("value"))).as("line"))

  /** Append-concat text sink (E11). The reference appends reduce outputs
    * into one SDFS file in nondeterministic order; Spark writes part-files.
    * `singleFile = true` coalesces to one partition for byte-shape parity
    * with the reference's single dest file (CLI convenience only — never
    * use at scale).
    */
  def writeText(out: Dataset[String], path: String, singleFile: Boolean = false): Unit = {
    val ds = if (singleFile) out.coalesce(1) else out
    ds.write.mode("append").text(path)
  }
}
