package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewSpec extends AnyFunSuite with SparkTestSession {

  test("skewSplitJoin equals a plain inner join") {
    import spark.implicits._
    val left = Seq(("hot", 1), ("hot", 2), ("cold1", 3), ("cold2", 4)).toDF("k", "lv")
    val right = Seq(("hot", 10), ("cold1", 20), ("cold3", 30)).toDF("k", "rv")
    val got = Skew.skewSplitJoin(left, right, "k", Seq("hot"))
      .select("k", "lv", "rv").as[(String, Int, Int)].collect().toSet
    val expect = left.join(right, "k")
      .select("k", "lv", "rv").as[(String, Int, Int)].collect().toSet
    assert(got === expect)
    assert(got === Set(("hot", 1, 10), ("hot", 2, 10), ("cold1", 3, 20)))
  }

  test("bucketized join plans without a shuffle exchange") {
    import spark.implicits._
    val orders = (1 to 1000).map(i => (i.toLong, s"o$i")).toDF("key", "o")
    val items = (1 to 3000).map(i => (((i % 1000) + 1).toLong, s"i$i")).toDF("key", "it")
    Seq("t_orders_b", "t_items_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    val bo = Skew.bucketize(spark, orders, "t_orders_b", "key", buckets = 8)
    val bi = Skew.bucketize(spark, items, "t_items_b", "key", buckets = 8)
    // test data is tiny, so the planner would broadcast and skip the
    // bucketed path entirely — disable broadcast to exercise the
    // co-located sort-merge plan a fact-fact join would get at scale
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = bo.join(bi, "key")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must be exchange-free, got plan:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      assert(joined.count() === 3000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS t_orders_b")
      spark.sql("DROP TABLE IF EXISTS t_items_b")
    }
  }

  private val dir = "/root/testdata/sf0.001"

  test("skew_split_join gate equals the plain enrichment join") {
    import graft.Engine.Tables
    val got = Skew.skewSplitJoinEvents(spark, dir)
    val t = Tables(spark, dir)
    val expect = t.events.join(t.customer,
        col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_mktsegment"), round(col("value"), 2).as("value"))
    assert(got.count() === expect.count())
    assert(got.exceptAll(expect).count() === 0)
    assert(expect.exceptAll(got).count() === 0)
    // hot routing is real: a nonempty hot set exists at every SF (events
    // always has users), so the union's broadcast slice is non-trivial
    assert(got.queryExecution.executedPlan.toString.contains("Union"))
  }

  test("bucket_join gate: no hash exchange anywhere, and re-runnable") {
    val first = Skew.bucketJoinOrders(spark, dir)
    val plan = first.queryExecution.executedPlan.toString
    // write-time bucketing must satisfy join AND groupBy distributions:
    // the only allowed Exchange is the presentation range-sort
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed gate grew a hash shuffle:\n${plan.take(3000)}")
    assert(plan.contains("Bucketed: true"), plan.take(2000))
    val rows = first.collect()
    // second invocation in the same catalog must overwrite cleanly and
    // agree (the gate is re-run every Verify/Bench pass)
    val again = Skew.bucketJoinOrders(spark, dir).collect()
    assert(rows.toSeq === again.toSeq)
  }

  test("bucketize survives an orphaned warehouse directory") {
    import spark.implicits._
    // simulate a fresh in-memory catalog over a prior JVM's surviving
    // files: a directory at the SCOPED managed location with NO catalog
    // entry (managed-table CREATE refuses a non-empty location;
    // bucketize must clear it rather than die)
    val phys = Skew.physicalName(spark, "t_orphan_b")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), phys)
    spark.sql(s"DROP TABLE IF EXISTS `$phys`")
    loc.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(loc, "part-stale.parquet").toPath, "stale")
    assert(loc.exists(), "orphan fixture must exist before the write")
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("key", "v")
    val back = Skew.bucketize(spark, df, "t_orphan_b", "key", buckets = 4)
    assert(back.count() === 100)
    spark.sql(s"DROP TABLE IF EXISTS `$phys`")
  }

  test("two sessions bucketize the same logical table name concurrently") {
    // sibling sessions share one catalog + warehouse (SharedState), so
    // an unscoped name would race DROP/delete/CREATE; the session-scoped
    // physical names must let both writes land and each session read
    // back its OWN rows
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def run(s: org.apache.spark.sql.SparkSession, tag: Int): Future[Set[Int]] =
      Future {
        import s.implicits._
        val df = (1 to 200).map(i => (i.toLong, tag)).toDF("key", "tag")
        val back = Skew.bucketize(s, df, "t_race_b", "key", buckets = 4)
        back.select("tag").distinct().collect().map(_.getInt(0)).toSet
      }
    val both: (Set[Int], Set[Int]) = Await.result(
      run(s1, 1).zip(run(s2, 2)), 120.seconds)
    assert(both._1 === Set(1), s"session 1 read foreign rows: ${both._1}")
    assert(both._2 === Set(2), s"session 2 read foreign rows: ${both._2}")
    Seq(s1 -> "t_race_b", s2 -> "t_race_b").foreach { case (s, t) =>
      s.sql(s"DROP TABLE IF EXISTS `${Skew.physicalName(s, t)}`")
    }
  }

  test("session-end hook drops bucket tables: catalog entry AND warehouse files") {
    import spark.implicits._
    val s = spark.newSession()
    val df = (1 to 50).map(i => (i.toLong, s"v$i")).toDF("key", "v")
    val back = Skew.bucketize(s, df, "t_cleanup_b", "key", buckets = 4)
    assert(back.count() === 50)
    val phys = Skew.physicalName(s, "t_cleanup_b")
    val loc = new java.io.File(
      s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), phys)
    assert(s.catalog.tableExists(phys), "bucketize must land a catalog entry")
    assert(loc.exists(), "bucketize must land warehouse files")
    // fire Skew's application-end listener directly: delivering
    // onApplicationEnd at stop() is Spark's contract, the cleanup it
    // triggers is ours
    Skew.sessionEndListener(Skew.sessionId(s))
      .onApplicationEnd(org.apache.spark.scheduler.SparkListenerApplicationEnd(0L))
    assert(!s.catalog.tableExists(phys),
      "session-end hook must drop the scoped catalog entry")
    assert(!loc.exists(),
      "session-end hook must delete the scoped warehouse directory")
  }
}
