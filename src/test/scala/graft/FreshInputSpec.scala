package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, concat, lit, max}
import org.scalatest.funsuite.AnyFunSuite

/** A gate reads its inputs as they are when it runs. The reference's
  * `get` always returns the latest `put`, and no computed intermediate
  * outlives the gate that made it, so a table rewritten in place
  * mid-session must be read fresh by every later gate.
  */
class FreshInputSpec extends AnyFunSuite with SparkTestSession {

  private val fixture = "/root/testdata/sf0.001"
  private val gates = Seq("dedup_clusters", "sent_dedup", "chat_assemble")

  private def rows(gate: String, dir: Path): Seq[String] =
    SparkEntry.queries(gate)(spark, dir.toString).collect().map(_.toString).toSeq

  /** Replaces `to` (a file or a directory) with a copy of `from`. */
  private def replace(from: Path, to: Path): Unit = {
    Scratch.delete(to)
    val walk = Files.walk(from)
    try walk.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally walk.close()
  }

  test("gates rerun on documents and events rewritten in place read the new rows") {
    val live = Paths.get(Scratch.dir("graft-fresh-live"))
    val rewritten = Paths.get(Scratch.dir("graft-fresh-new"))
    Seq("documents", "events").foreach { name =>
      Files.copy(Paths.get(fixture, s"$name.parquet"), live.resolve(s"$name.parquet"))
    }
    val before = gates.map(g => g -> rows(g, live)).toMap

    // the new data: near-copies (one word appended) of the five longest
    // docs, and copies of the first six events under new event_ids (six
    // more turns); raw tables, so the rewritten files keep their schema
    val t = Engine.Tables(spark, fixture)
    def withCopies(table: String, id: String, n: Int, order: Column*)
        (edit: DataFrame => DataFrame): Unit = {
      val raw = t.table(table)
      val maxId = raw.agg(max(id)).head().getLong(0)
      raw.unionByName(edit(raw.orderBy(order: _*).limit(n))
          .withColumn(id, col(id) + maxId + 1))
        .write.parquet(rewritten.resolve(s"$table.parquet").toString)
    }
    withCopies("documents", "doc_id", 5, col("n_chars").desc, col("doc_id"))(
      _.withColumn("text", concat(col("text"), lit(" again"))))
    withCopies("events", "event_id", 6, col("event_id"))(identity)

    Seq("documents", "events").foreach { name =>
      replace(rewritten.resolve(s"$name.parquet"), live.resolve(s"$name.parquet"))
    }
    gates.foreach { g =>
      val again = rows(g, live)
      assert(again !== before(g), s"$g: the new rows must change the result")
      assert(again === rows(g, rewritten), s"$g read stale rows after the rewrite")
    }
  }
}
