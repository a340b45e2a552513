package graft

import java.nio.file.Files
import java.nio.file.attribute.FileTime

import org.scalatest.funsuite.AnyFunSuite

class EngineSpec extends AnyFunSuite with SparkTestSession {

  test("Tables re-reads the schema of a parquet path rewritten in place, local or remote URI") {
    import spark.implicits._
    val root = java.nio.file.Paths.get(Scratch.dir("graft-schema"))
    val table = root.resolve("t.parquet")
    // the same directory behind a non-local URI: a viewfs mount of it
    spark.sparkContext.hadoopConfiguration.set(
      "fs.viewfs.mounttable.graftspec.link./fixture", root.toUri.toString)
    val dirs = Seq(root.toString, "viewfs://graftspec/fixture")
    def columns(dir: String) = Engine.Tables(spark, dir).table("t").columns.toSeq

    Seq((1L, "a")).toDF("id", "s").write.parquet(table.toString)
    dirs.foreach(d => assert(columns(d) === Seq("id", "s"), d))
    val first = Files.getLastModifiedTime(table).toMillis
    Seq((1L, 2.0, true)).toDF("id", "x", "flag").write.mode("overwrite").parquet(table.toString)
    // a later mtime, set explicitly: the rewrite may land within the
    // clock resolution of the first write
    Files.setLastModifiedTime(table, FileTime.fromMillis(first + 10000))
    dirs.foreach(d => assert(columns(d) === Seq("id", "x", "flag"), d))
  }
}
