package graft.sources

import graft.SparkTestSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Format round-trips through the Warehouse namespace: schema'd CSV and
  * JSON reads must be lossless against the parquet source of truth.
  */
class WarehouseSpec extends AnyFunSuite with SparkTestSession {

  private lazy val wh =
    new Warehouse(spark, graft.Scratch.dir("graft-wh"))

  private lazy val nation =
    graft.Engine.Tables(spark, "/root/testdata/sf0.001").nation

  test("csv round-trip with explicit schema is lossless") {
    wh.saveCsv(nation, "nation_csv")
    val back = wh.readCsv("nation_csv", nation.schema)
    assert(back.schema === nation.schema)
    assert(back.orderBy(col("n_nationkey")).collect().toSeq
      === nation.orderBy(col("n_nationkey")).collect().toSeq)
  }

  test("json round-trip with explicit schema is lossless") {
    wh.saveJson(nation, "nation_json")
    val back = wh.readJson("nation_json", nation.schema)
    assert(back.schema === nation.schema)
    assert(back.orderBy(col("n_nationkey")).collect().toSeq
      === nation.orderBy(col("n_nationkey")).collect().toSeq)
  }

  test("csv round-trip survives embedded newlines, quotes and delimiters") {
    import spark.implicits._
    val nasty = Seq(
      (0L, "line one\nline two\r\nline three"),
      (1L, "a \"quoted\" value, with comma"),
      (2L, "trailing space \t tab"),
      (3L, "plain")
    ).toDF("id", "text")
    wh.saveCsv(nasty, "nasty_csv")
    val back = wh.readCsv("nasty_csv", nasty.schema)
    assert(back.orderBy(col("id")).collect().toSeq
      === nasty.orderBy(col("id")).collect().toSeq)
  }

  test("orc round-trip is lossless and pushes filters to the scan") {
    wh.saveOrc(nation, "nation_orc")
    val back = wh.readOrc("nation_orc")
    assert(back.schema === nation.schema)
    assert(back.orderBy(col("n_nationkey")).collect().toSeq
      === nation.orderBy(col("n_nationkey")).collect().toSeq)
    val plan = back.filter(col("n_nationkey") === 3)
      .select("n_name").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_nationkey), EqualTo(n_nationkey,3)]"),
      plan.take(1500))
  }

  test("compact: collapses a many-small-files table, preserves every row") {
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    docs.repartition(40).write.mode("overwrite").parquet(wh.path("docs_frag"))
    def partFiles: Int = new java.io.File(wh.path("docs_frag"))
      .listFiles().count(f => f.getName.startsWith("part-"))
    assert(partFiles === 40)
    val before = docs.collect().map(_.getLong(0)).sorted.toSeq
    val n = wh.compact("docs_frag")
    assert(n === 1 && partFiles === 1) // tiny table -> one target file
    val after = wh.readParquet("docs_frag")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after === before)
  }

  test("compact recovers a table stranded by a crash between the two renames") {
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    docs.repartition(8).write.mode("overwrite").parquet(wh.path("docs_crash"))
    val before = docs.collect().map(_.getLong(0)).sorted.toSeq
    // simulate death between rename(path→bak) and rename(tmp→path): the
    // live dir is gone, the only copy sits in the hidden backup
    val live = new java.io.File(wh.path("docs_crash"))
    val bak = new java.io.File(live.getParent, ".docs_crash__precompact")
    assert(live.renameTo(bak))
    assert(!live.exists())
    val n = wh.compact("docs_crash") // must restore, then compact normally
    assert(n === 1 && !bak.exists())
    val after = wh.readParquet("docs_crash")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after === before)
  }

  test("readCsvPermissive quarantines malformed rows instead of failing") {
    import org.apache.spark.sql.types._
    val dir = graft.Scratch.dir("graft-badcsv")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/part-00000.csv"),
      "id,n\n1,10\nnot_a_number_row,xx\n3,30\n".getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("n", LongType)))
    val df = new Warehouse(spark, new java.io.File(dir).getParent)
      .readCsvPermissive(new java.io.File(dir).getName, schema)
    // Spark refuses a query projecting ONLY _corrupt_record from raw
    // files — collect full rows (the documented pattern) and split here
    val rows = df.collect()
    val good = rows.filter(_.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bad = rows.filterNot(_.isNullAt(2)).map(_.getString(2))
    assert(good === Set((1L, 10L), (3L, 30L)))
    assert(bad.length === 1 && bad.head.startsWith("not_a_number_row"))
  }

  test("readParquetMerged: later appends with new columns read as superset schema") {
    import spark.implicits._
    val name = "evolving"
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite").parquet(wh.path(name))
    Seq((2L, "b", 99L)).toDF("id", "v", "extra")
      .write.mode("append").parquet(wh.path(name))
    val merged = wh.readParquetMerged(name)
    assert(merged.columns.toSet === Set("id", "v", "extra"))
    val rows = merged.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(rows.toSeq === Seq((1L, "a", -1L), (2L, "b", 99L)))
  }

  test("compact preserves a schema-evolved table's superset schema") {
    import spark.implicits._
    val name = "evolving_compact"
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite").parquet(wh.path(name))
    Seq((2L, "b", 99L)).toDF("id", "v", "extra")
      .write.mode("append").parquet(wh.path(name))
    wh.compact(name)
    val back = wh.readParquet(name) // plain read: compaction normalized the schema
    assert(back.columns.toSet === Set("id", "v", "extra"))
    val rows = back.orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(rows.toSeq === Seq((1L, -1L), (2L, 99L)))
  }

  test("compact refuses a Hive-partitioned layout instead of flattening it") {
    wh.savePartitioned(nation, "nation_part", "n_regionkey")
    val e = intercept[IllegalArgumentException](wh.compact("nation_part"))
    assert(e.getMessage.contains("partitioned"))
    // the table is untouched: pruning layout still present
    assert(new java.io.File(wh.path("nation_part"))
      .listFiles().exists(_.getName.startsWith("n_regionkey=")))
  }
}
