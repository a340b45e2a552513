package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class HeavyHittersSpec extends AnyFunSuite with SparkTestSession {

  test("sketch pipeline equals exact group-having on skewed data (5 seeds)") {
    import spark.implicits._
    for (seed <- 0 until 5) {
      val r = new scala.util.Random(500 + seed)
      // 3 planted heavy keys inside a long uniform tail; capacity 31 is
      // far below the ~1000 distinct tail keys, so eviction really runs
      val stream = Seq.fill(300)(900L + r.nextInt(3)) ++
        Seq.fill(2000)(r.nextInt(1000).toLong)
      val df = r.shuffle(stream).toDF("user_id").repartition(7)
      val total = stream.size
      val got = HeavyHitters.heavyHitters(df, "user_id",
          phiDenominator = 30, capacity = 31)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val expect = stream.groupBy(identity)
        .collect { case (k, v) if v.size * 30 >= total => (k, v.size.toLong) }
        .toSet
      assert(got === expect, s"seed=$seed")
      // the planted keys must actually qualify, or the test tests nothing
      assert(expect.exists(_._1 >= 900L), s"seed=$seed planted keys missing")
    }
  }

  test("gated query: every returned user really exceeds 1/2000 of events") {
    val dir = "/root/testdata/sf0.001"
    val t = graft.Engine.Tables(spark, dir)
    val total = t.events.count()
    val got = graft.SparkEntry.queries("hh_heavy_hitters")(spark, dir)
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(got.nonEmpty, "threshold should admit at least one user")
    assert(got.forall { case (_, n) => n * 2000 >= total })
    val exact = t.events.groupBy(col("user_id")).count()
      .filter(col("count") * 2000 >= total).count()
    assert(got.length === exact)
  }
}
