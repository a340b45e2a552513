package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MapleJuice
import graft.sources.Warehouse

/** The reference's `command_backup` flow at a data-bound size: `put` the
  * seeded inputs into the warehouse, run the MapleJuice jobs (user
  * functions below) into the `LineTable` sink, `get` every output back,
  * then `ls`, `store` and `delete`. Every job output is compared with the
  * generator's expected lines, on read-back and again after `get`.
  *
  * Local filesystem: the inputs are staged in and fetched to a local
  * work directory; the warehouse root may be any Hadoop filesystem. */
final class MjPipeline(spark: SparkSession, seed: Long, workDir: String,
    tasks: Int, sizes: MjSizes = MjSizes.Default,
    corruptExpected: Boolean = false) extends Workload {
  import spark.implicits._

  private val wh = new Warehouse(spark, s"$workDir/warehouse")
  private val localIn = s"$workDir/in"
  private val localOut = s"$workDir/out"
  private var data: MjData = _

  /** output name → expected lines key, and how it is stored */
  private val outputs: Seq[(String, String, Boolean)] = Seq(
    ("wc_hash", "wordcount", true), ("wc_range", "wordcount", true),
    ("wc_exe", "wordcount_exe", false),
    ("vote3_pairs", "vote3_pairs", true), ("vote3_wins", "vote3_wins", true),
    ("vote8_pairs", "vote8_pairs", true), ("vote8_wins", "vote8_wins", true),
    ("contacts", "contacts", true))
  private val lineTables = outputs.filter(_._3).map(_._1).toSet

  val jobs: Seq[String] = Seq("mj_wordcount", "mj_wordcount_range",
    "mj_wordcount_exe", "mj_vote", "mj_contact")
  def groups: Seq[Seq[String]] = Seq(Seq("put"), jobs, Seq("get"), Seq("meta"))

  def generate(): Unit = {
    data = MjGen.generate(seed, sizes)
    if (corruptExpected) {
      val (k, v) = data.expected.head
      data = data.copy(expected = data.expected.updated(k, v.drop(1)))
    }
    Files.createDirectories(Paths.get(localIn))
    data.inputs.foreach { case (name, text) =>
      Files.write(Paths.get(localIn, name), text.getBytes(UTF_8))
    }
  }

  def warm(op: String, ph: Phases): Outcome = run(op, ph)

  def run(op: String, ph: Phases): Outcome = op match {
    case "put" =>
      ph("put") {
        data.inputs.foreach { case (name, _) =>
          ph(s"put:$name", "warehouse.put")(wh.put(s"$localIn/$name", name))
        }
      }
      Outcome(ok = true, "", Seq("put"))
    case "mj_wordcount" => wordCount("wc_hash", MapleJuice.Hash, ph)
    case "mj_wordcount_range" => wordCount("wc_range", MapleJuice.Range, ph)
    case "mj_wordcount_exe" =>
      ph("job") {
        val keyed = MapleJuice.mapleExe(wh.readText("corpus_head"),
          "awk '{for(i=1;i<=NF;i++) print $i, 1}'", tasks)
        val out = MapleJuice.juiceExe(keyed, "awk '{s+=$2} END{if(NR>0) print $1, s}'", tasks)
        ph("sink", "warehouse.write_text")(wh.writeText(out, "wc_exe"))
      }
      verify(Seq("wc_exe"), ph)
    case "mj_vote" =>
      ph("job") {
        Seq("3", "8").foreach { n =>
          val pairs = MapleJuice.maple(wh.readText(s"ballots$n"), tasks) { b =>
            val r = b.split(" ")
            for (i <- r.indices.iterator; j <- (i + 1 until r.length).iterator) yield {
              val lo = if (r(i) < r(j)) r(i) else r(j)
              val hi = if (lo == r(i)) r(j) else r(i)
              s"$lo,$hi ${if (r(i) == lo) 1 else 0}"
            }
          }
          sink(MapleJuice.juice(pairs, tasks) { (pair, bits) =>
            var ones, n = 0L
            bits.foreach { l => n += 1; if (l.endsWith(" 1")) ones += 1 }
            val Array(lo, hi) = pair.split(",")
            Iterator.single(if (ones * 2 > n) s"$lo,$hi" else s"$hi,$lo")
          }, s"vote${n}_pairs", ph)
          val wins = MapleJuice.maple(readLines(s"vote${n}_pairs", ph), tasks) { p =>
            Iterator.single(p.takeWhile(_ != ',') + " 1")
          }
          sink(MapleJuice.juice(wins, tasks) { (c, g) => Iterator.single(s"$c ${g.size}") },
            s"vote${n}_wins", ph)
        }
      }
      verify(Seq("vote3_pairs", "vote3_wins", "vote8_pairs", "vote8_wins"), ph)
    case "mj_contact" =>
      ph("job") {
        val byLoc = MapleJuice.maple(wh.readText("visits"), tasks) { v =>
          val f = v.split(" ")
          Iterator.single(s"${f(1)} ${f(0)} ${f(2)} ${f(3)} ${f(4)}")
        }
        sink(MapleJuice.juice(byLoc, tasks)(MjPipeline.contactJuice), "contacts", ph)
      }
      verify(Seq("contacts"), ph)
    case "get" =>
      Files.createDirectories(Paths.get(localOut))
      val got = ph("get") {
        outputs.map { case (name, _, _) =>
          val local = s"$localOut/$name"
          ph(s"get:$name", "warehouse.get")(wh.get(name, local))
          name -> new String(Files.readAllBytes(Paths.get(local)), UTF_8)
            .split("\n").filter(_.nonEmpty).toSeq.sorted
        }
      }
      ph("verify")(firstMismatch(got)) match {
        case None => Outcome(ok = true, "", Seq("get"))
        case Some(m) => Outcome(ok = false, s"get: $m", Seq("get"))
      }
    case "meta" =>
      val (files, bytes, listed) = ph("meta") {
        val ls = outputs.map { case (name, _, _) =>
          name -> ph(s"ls:$name", "warehouse.meta")(wh.ls(name))
        }
        val before = ph("store", "warehouse.meta")(wh.store())
        val names = data.inputs.map(_._1) ++ outputs.map(_._1)
        names.foreach(n => ph(s"delete:$n", "warehouse.meta")(wh.delete(n)))
        val after = ph("store", "warehouse.meta")(wh.store())
        val lt = ls.filter(l => lineTables.contains(l._1)).flatMap(_._2)
        (lt.size, lt.map(_.split("\t")(1).toLong).sum,
          (names.forall(before.contains), after.isEmpty, ls.forall(_._2.nonEmpty)))
      }
      val userBytes = outputs.filter(_._3).map(o => data.expected(o._2).map(_.length + 1L).sum).sum
      Outcome.check(listed == (true, true, true),
        s"store/ls/delete: all names stored, none left, every output listed = $listed",
        Seq("meta"),
        ListMap("linetable_files" -> files, "linetable_bytes" -> bytes,
          "linetable_user_bytes" -> userBytes))
  }

  private def wordCount(name: String, part: MapleJuice.Partitioning, ph: Phases): Outcome = {
    ph("job") {
      val keyed = MapleJuice.maple(wh.readText("corpus"), tasks) { line =>
        line.trim.split("\\s+").iterator.filter(_.nonEmpty).map(w => s"$w 1")
      }
      sink(MapleJuice.juice(keyed, tasks, part) { (w, g) => Iterator.single(s"$w ${g.size}") },
        name, ph)
    }
    verify(Seq(name), ph)
  }

  /** Write job output lines into a `LineTable` in the warehouse. */
  private def sink(out: Dataset[String], name: String, ph: Phases): Unit =
    ph(s"sink:$name", "linetable.write") {
      MapleJuice.toLineTable(out.toDF("line")
          .select(substring_index(col("line"), " ", 1).as("key"), col("line")))
        .write.format("graft.sources.LineTable").option("path", wh.path(name))
        .mode("overwrite").save()
    }

  private def readLines(name: String, ph: Phases): Dataset[String] =
    MapleJuice.fromLineTable(spark.read.format("graft.sources.LineTable")
      .option("path", wh.path(name)).load()).select(col("line")).as[String]

  private def verify(names: Seq[String], ph: Phases): Outcome = {
    val got = names.map { n =>
      n -> ph(s"read:$n", if (lineTables.contains(n)) "linetable.read" else "warehouse.read") {
        (if (lineTables.contains(n)) readLines(n, ph) else wh.readText(n)).collect().toSeq.sorted
      }
    }
    ph("verify")(firstMismatch(got)) match {
      case None => Outcome(ok = true, "", Seq("job"))
      case Some(m) => Outcome(ok = false, m, Seq("job"))
    }
  }

  private def firstMismatch(got: Seq[(String, Seq[String])]): Option[String] =
    got.collectFirst { case (name, lines) if lines != expectedFor(name) =>
      val exp = expectedFor(name)
      s"$name: ${lines.size} lines vs ${exp.size} expected, first difference " +
        lines.zipAll(exp, "<none>", "<none>").find(p => p._1 != p._2).getOrElse("")
    }

  private def expectedFor(output: String): Seq[String] =
    data.expected(outputs.find(_._1 == output).get._2)

  override def describe: ListMap[String, Any] = ListMap(
    "sizes" -> ListMap(sizes.productElementNames.toSeq.zip(sizes.productIterator.toSeq): _*),
    "input_bytes" -> ListMap.from(data.inputs.map { case (k, v) => k -> v.length }),
    "tasks" -> tasks)
}

object MjPipeline {
  /** Contact tracing, one call per location: every test visitor whose
    * interval overlaps a positive visitor's interval. Positives sorted by
    * start with a running max of their ends, so each test is one binary
    * search. Input lines: `location name start end P|T`. */
  def contactJuice(loc: String, lines: Iterator[String]): Iterator[String] = {
    val rows = lines.map(_.split(" ")).toArray
    val pos = rows.filter(_(4) == "P").map(r => (r(2).toLong, r(3).toLong)).sortBy(_._1)
    val maxEnd = pos.scanLeft(Long.MinValue)((m, p) => math.max(m, p._2)).tail
    val starts = pos.map(_._1)
    rows.iterator.filter(_(4) == "T").filter { t =>
      // positives starting before the test ends; any of them ending after
      // the test starts overlaps it
      val (ts, te) = (t(2).toLong, t(3).toLong)
      var lo = 0
      var hi = starts.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (starts(m) < te) lo = m + 1 else hi = m }
      lo > 0 && maxEnd(lo - 1) > ts
    }.map(t => s"$loc ${t(1)}").distinct
  }
}
