package graft.operators

import graft.{RefFixture, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** The MapleJuice dataflow surface (SURVEY §2.1), both tiers, against the
  * reference's fixture `mj_exe/wc_simple_input` ([[RefFixture]]). All
  * comparisons are multisets — the reference's shuffle merge is
  * order-nondeterministic (`file_system/file_system.go:1017-1021`).
  */
class MapleJuiceSpec extends AnyFunSuite with SparkTestSession {

  private val fixture = RefFixture.path("wc_simple_input")

  /** Independent in-memory oracle: wordcount of the fixture. */
  private lazy val expected: Map[String, Int] = {
    val src = scala.io.Source.fromFile(fixture)
    try src.getLines().flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
      .toSeq.groupBy(identity).map { case (w, ws) => w -> ws.size }
    finally src.close()
  }

  private def toMap(lines: Array[String]): Map[String, Int] =
    lines.map { l =>
      val Array(w, c) = l.split(" ")
      w -> c.toInt
    }.toMap

  test("native tier: maple(flatMap) + juice(flatMapGroups) wordcount") {
    val lines = spark.read.textFile(fixture)
    val keyed = MapleJuice.maple(lines, 3)(
      _.trim.split("\\s+").iterator.filter(_.nonEmpty).map(w => s"$w 1"))
    val out = MapleJuice.juice(keyed, 3)((k, it) => Iterator.single(s"$k ${it.size}"))
    assert(toMap(out.collect()) === expected)
  }

  test("range partitioning produces the same multiset as hash") {
    val lines = spark.read.textFile(fixture)
    val keyed = MapleJuice.maple(lines, 3)(
      _.trim.split("\\s+").iterator.filter(_.nonEmpty).map(w => s"$w 1"))
    val byRange = MapleJuice.juice(keyed, 2, MapleJuice.Range)(
      (k, it) => Iterator.single(s"$k ${it.size}"))
    assert(toMap(byRange.collect()) === expected)
  }

  test("literal tier: external executables over stdin/stdout lines") {
    val lines = spark.read.textFile(fixture)
    // the exact exe contract of mj_exe/wc_maple + juice_wordcount,
    // restated as awk one-liners (E3/E10: lines in, lines out)
    val keyed = MapleJuice.mapleExe(lines,
      """awk '{for (i = 1; i <= NF; i++) print $i, 1}'""", 3)
    val out = MapleJuice.juiceExe(keyed,
      """awk '{k = $1; s += $2} END {if (k != "") print k, s}'""", 2)
    assert(toMap(out.collect()) === expected)
  }

  test("gated exe query mj_wordcount_exe agrees with the native wordcount") {
    // the CORRECTNESS-gated spelling (Workloads.mjWordCountExe) must
    // produce exactly the native plan's result on real testdata — same
    // tokens, same counts, same column names the oracle hashes
    val exe = Workloads.mjWordCountExe(spark, "/root/testdata/sf0.001").collect()
    val native = graft.SparkEntry.queries("wc_wordcount")(spark, "/root/testdata/sf0.001").collect()
    assert(exe.map(r => (r.getString(0), r.getLong(1))).toMap ===
      native.map(r => (r.getString(0), r.getLong(1))).toMap)
    assert(exe.nonEmpty)
  }

  test("toLineTable/fromLineTable round-trip the keyed intermediate") {
    import spark.implicits._
    val keyed = Seq(
      ("alpha", "alpha 1"), ("alpha", "alpha two words"),
      ("solo", "solo"), ("x", "x ")) // trailing-space value canonicalizes
      .toDF("key", "line")
    val back = MapleJuice.fromLineTable(MapleJuice.toLineTable(keyed))
      .as[(String, String)].collect().sorted.toSeq
    assert(back === Seq(("alpha", "alpha 1"), ("alpha", "alpha two words"),
      ("solo", "solo"), ("x", "x")))
  }

  test("literal tier survives a chatty executable (>64KB stderr)") {
    val lines = spark.read.textFile(fixture)
    val keyed = MapleJuice.mapleExe(lines,
      """awk '{for (i = 1; i <= NF; i++) print $i, 1}'""", 2)
    // writes 128 KB to stderr after draining stdin — deadlocks if stderr
    // is an unread pipe
    val out = MapleJuice.juiceExe(keyed,
      """awk '{k = $1; s += $2} END {if (k != "") print k, s}'; head -c 131072 /dev/zero | tr '\0' '.' 1>&2""", 2)
    assert(toMap(out.collect()) === expected)
  }

  test("failing executable fails the job (task-level error surfaces)") {
    val lines = spark.read.textFile(fixture)
    val keyed = MapleJuice.mapleExe(lines, "cat", 2)
    val ex = intercept[org.apache.spark.SparkException] {
      MapleJuice.juiceExe(keyed, "exit 3", 2).collect()
    }
    assert(ex.getMessage.contains("exited 3") ||
      Option(ex.getCause).exists(_.getMessage.contains("exited 3")))
  }

  test("failing MAPLE executable fails the job too (RDD.pipe tier)") {
    // the map-side literal tier: a maple exe that dies mid-stream (after
    // emitting a line, exit 7) must surface as a loud Spark job failure,
    // not a silent truncation of the keyed output
    val lines = spark.read.textFile(fixture)
    val ex = intercept[org.apache.spark.SparkException] {
      MapleJuice.mapleExe(lines, "head -n 1; exit 7", 2).collect()
    }
    // RDD.pipe raises "Subprocess exited with status 7"
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).take(5).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("status 7") || msgs.contains("exited 7"), msgs)
  }
}
