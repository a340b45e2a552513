package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class MonitoringSpec extends AnyFunSuite with SparkTestSession {

  test("observed: metrics ride the action, match independent counts") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("a")), (2L, Option("b")), (3L, Option.empty[String]),
      (4L, Option("a"))).toDF("id", "v")
    val (instrumented, obs) = Monitoring.observed(df, "q", Seq("id", "v"))
    val n = instrumented.count() // the ONE action; metrics piggyback
    assert(n === 4L)
    val m = obs.get
    assert(m("n_rows") === 4L)
    assert(m("id_nulls") === 0L)
    assert(m("v_nulls") === 1L)
    // HLL++ is exact at this cardinality
    assert(m("id_approx_distinct") === 4L)
    assert(m("v_approx_distinct") === 2L)
  }

  test("observed on a gated query costs no second scan and sees its rows") {
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val (instrumented, obs) = Monitoring.observed(docs, "docs", Seq("doc_id", "lang"))
    instrumented.write.format("noop").mode("overwrite").save()
    val m = obs.get
    assert(m("n_rows").asInstanceOf[Long] === docs.count())
    assert(m("doc_id_nulls") === 0L)
  }

  test("corpusCard matches independently computed corpus facts") {
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val rows = docs.select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3)))
    val card = Monitoring.corpusCard(docs).head()
    assert(card.getLong(0) === rows.length.toLong)
    assert(card.getLong(1) ===
      rows.map(_._3.trim.split("\\s+").length.toLong).sum)
    assert(card.getLong(2) === rows.map(_._1).distinct.length.toLong)
    assert(card.getLong(3) === rows.map(_._2).distinct.length.toLong)
    val uniq = rows.map(_._3).distinct.length.toLong
    assert(card.getLong(4) === uniq)
    assert(card.getDouble(5) ===
      BigDecimal(1.0 - uniq.toDouble / rows.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("sourceOverlap: shared shingles land in the right cells, no phantom pairs") {
    import spark.implicits._
    val eightGram = "a b c d e f g h" // exactly one 8-gram shingle
    val docs = Seq(
      (1L, eightGram, "src0"),
      (2L, eightGram, "src1"),          // same shingle → src0∩src1
      (3L, "p q r s t u v w", "src2"),  // disjoint shingle
      (4L, "x y", "src3")               // too short: no shingles at all
    ).toDF("doc_id", "text", "source")
    val m = Monitoring.sourceOverlap(docs, nSources = 4).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(m === Map((0, 0) -> 1L, (0, 1) -> 1L, (1, 1) -> 1L, (2, 2) -> 1L))
  }

  test("sourceOverlap diagonal equals per-source distinct shingle count on the fixture") {
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val m = Monitoring.sourceOverlapDocs(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    // independent in-memory recomputation of one diagonal cell
    import org.apache.spark.sql.functions.col
    val n = Monitoring.OverlapShingle
    val src0 = docs.filter(col("source") === "src0")
      .select("text").collect().iterator
      .flatMap(_.getString(0).trim.split("\\s+").sliding(n)
        .filter(_.length == n).map(_.mkString(" ")))
      .toSet.size.toLong
    assert(m((0, 0)) === src0)
    // symmetry of construction: only a ≤ b cells exist
    assert(m.keys.forall { case (a, b) => a <= b })
  }

  test("kAnonymityAudit reports exactly the sub-k classes with their sizes") {
    import spark.implicits._
    val rows =
      Seq.fill(7)(("en", "web")) ++ Seq.fill(3)(("en", "books")) ++
        Seq.fill(1)(("fr", "web"))
    val df = rows.toDF("lang", "source")
    val got = Monitoring.kAnonymityAudit(df, Seq("lang", "source"), k = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq(("en", "books", 3L), ("fr", "web", 1L)))
  }

  test("kanonDocs: every reported class is genuinely below k on the fixture") {
    val dir = "/root/testdata/sf0.001"
    val audit = Monitoring.kanonDocs(spark, dir).collect()
    assert(audit.forall(_.getLong(3) < Monitoring.KAnonK))
    // cross-check one class size independently
    import org.apache.spark.sql.functions._
    if (audit.nonEmpty) {
      val r = audit.head
      val n = graft.Engine.Tables(spark, dir).documents
        .filter(col("lang") === r.getString(0) &&
          col("source") === r.getString(1) &&
          expr("n_chars div 100") === r.getLong(2))
        .count()
      assert(n === r.getLong(3))
    }
  }

  test("sourceOverlap fails loudly on out-of-domain source ids") {
    import spark.implicits._
    // digit-less source → NULL sid; id ≥ nSources → mask wrap: both are
    // silent-corruption bugs, so both must raise, not drop
    val digitless = Seq((1L, "one two three four five six seven eight nine", "weird"))
      .toDF("doc_id", "text", "source")
    val e1 = intercept[Exception] {
      Monitoring.sourceOverlap(digitless).collect()
    }
    assert(e1.getMessage.contains("source='weird'"), e1.getMessage)
    val tooBig = Seq((1L, "one two three four five six seven eight nine", "src_99"))
      .toDF("doc_id", "text", "source")
    val e2 = intercept[Exception] {
      Monitoring.sourceOverlap(tooBig).collect()
    }
    assert(e2.getMessage.contains("sourceOverlap"), e2.getMessage)
    // a doc too short to shingle explodes to no rows; its source is
    // still checked
    val short = Seq(
      (1L, "one two three four five six seven eight nine", "src_1"),
      (2L, "too short", "weird")).toDF("doc_id", "text", "source")
    val e4 = intercept[Exception] {
      Monitoring.sourceOverlap(short, nSources = 4).collect()
    }
    assert(e4.getMessage.contains("source='weird'"), e4.getMessage)
    // a non-positive source count is rejected up front
    val e3 = intercept[IllegalArgumentException] {
      Monitoring.sourceOverlap(tooBig, nSources = 0)
    }
    assert(e3.getMessage.contains("nSources"))
  }

  test("hllMergeable: union-of-shards equals the direct sketch, inside error bounds") {
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    import org.apache.spark.sql.functions.{col, md5}
    val r = Monitoring.hllMergeable(docs).head
    val exact = docs.select(md5(col("text"))).distinct().count()
    assert(r.getLong(0) === exact)
    assert(r.getBoolean(1), "direct estimate outside the error contract")
    assert(r.getBoolean(2), "merged estimate outside the error contract")
    assert(r.getBoolean(3),
      "union-of-shards estimate must sit within the band of the direct sketch " +
        "(registers identical; HIP vs composite estimator seam)")
    // partitioning-invariance: sketch merge is register-wise max, so an
    // arbitrary repartition must not change a single output bit
    val r2 = Monitoring.hllMergeable(docs.repartition(13)).head
    assert(r2 === r)
  }

  test("sourceOverlap: > 63 sources span multiple mask words correctly") {
    import spark.implicits._
    // sources chosen to straddle the Long-word boundary (0 | 63 / 64 |
    // 100): a correct multi-word bitmask finds the cross-word pair
    // (0, 64) and the boundary-adjacent pair (63, 64); the old
    // single-Long mask could not even represent source 64
    val t1 = "a b c d e f g h"      // exactly one 8-shingle
    val t2 = "p q r s t u v w"
    val t3 = "k l m n o aa bb cc"
    val docs = Seq(
      (1L, t1, "src_0"), (2L, t1, "src_64"),
      (3L, t2, "src_63"), (4L, t2, "src_64"),
      (5L, t3, "src_100")).toDF("doc_id", "text", "source")
    val m = Monitoring.sourceOverlap(docs, nSources = 101).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(m === Map(
      (0, 0) -> 1L, (0, 64) -> 1L,
      (63, 63) -> 1L, (63, 64) -> 1L,
      (64, 64) -> 2L, (100, 100) -> 1L))
  }

  test("lDiversityAudit flags homogeneous classes, passes diverse ones") {
    import spark.implicits._
    // class (s1, 0): 3 rows, all lang=en  → flagged (n_sensitive = 1)
    // class (s2, 0): 3 rows, langs en/de  → flagged (n_sensitive = 2)
    // class (s3, 0): 3 rows, langs en/de/fr → diverse, NOT flagged
    val rows = Seq(
      ("en", "s1", 0L), ("en", "s1", 0L), ("en", "s1", 0L),
      ("en", "s2", 0L), ("de", "s2", 0L), ("en", "s2", 0L),
      ("en", "s3", 0L), ("de", "s3", 0L), ("fr", "s3", 0L))
      .toDF("lang", "source", "len_bucket")
    val got = Monitoring.lDiversityAudit(rows,
        Seq("source", "len_bucket"), "lang", l = 3)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("s1", 0L, 3L, 1L), ("s2", 0L, 3L, 2L)))
  }

  test("lDiversityAudit rejects a sensitive column that is also a QI") {
    import spark.implicits._
    val rows = Seq(("en", "s1")).toDF("lang", "source")
    val ex = intercept[IllegalArgumentException] {
      Monitoring.lDiversityAudit(rows, Seq("lang", "source"), "lang")
    }
    assert(ex.getMessage.contains("cannot also be a quasi-identifier"))
  }
}
