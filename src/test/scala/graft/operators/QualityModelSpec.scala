package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class QualityModelSpec extends AnyFunSuite with SparkTestSession {

  /** Independent feature + score computation (plain Scala). */
  private def refScore(text: String, w: Array[Double]): (Double, Double, Int) = {
    val toks = text.trim.split("\\s+")
    val f1 = math.log(1.0 + toks.length)
    val f2 = toks.distinct.length.toDouble / toks.length
    val f3 = toks.count(_.length >= 3).toDouble / toks.length
    val z = w(0) + w(1) * f1 + w(2) * f2 + w(3) * f3
    def r(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    (r(z, 6), r(1.0 / (1.0 + math.exp(-z)), 4), if (z > 0) 1 else 0)
  }

  test("logitScore matches an independent implementation, keep splits") {
    import spark.implicits._
    val longDoc = (1 to 30).map(i => s"token$i").mkString(" ")
    val docs = Seq(
      (0L, longDoc),
      (1L, "a a a a a a a a a a a a"),
      (2L, "mixed bag of a b c repeated repeated repeated words words")
    ).toDF("doc_id", "text")
    val got = QualityModel.logitScore(docs).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getInt(3))))
      .toMap
    Seq(0L -> longDoc,
        1L -> "a a a a a a a a a a a a",
        2L -> "mixed bag of a b c repeated repeated repeated words words")
      .foreach { case (id, text) =>
        val (z, p, k) = refScore(text, QualityModel.GateWeights)
        assert(math.abs(got(id)._1 - z) < 1e-9, s"z mismatch doc $id")
        assert(math.abs(got(id)._2 - p) < 1e-9, s"prob mismatch doc $id")
        assert(got(id)._3 === k, s"keep mismatch doc $id")
      }
    // the all-short-token spam doc is rejected, the clean doc kept
    assert(got(0L)._3 === 1 && got(1L)._3 === 0)
  }

  test("gated scorer splits the real corpus non-trivially") {
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val kept = QualityModel.logitScore(docs)
      .agg(sum(col("keep")), count(lit(1))).head()
    val (k, n) = (kept.getLong(0), kept.getLong(1))
    assert(k > 0 && k < n, s"keep decision is degenerate: $k of $n")
  }

  test("calibrationTable: bins partition the corpus; rates recompute exactly") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Engine.Tables(spark, dir).documents
    val total = docs.count()
    val rows = graft.SparkEntry.queries("quality_calibration")(spark, dir).collect()
    assert(rows.map(_.getLong(1)).sum === total, "bins must partition the corpus")
    rows.foreach { r =>
      val (bin, n, nk, rate, meanPm) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(bin >= 0 && bin < QualityModel.CalibrationBins)
      assert(rate === nk * 1000000L / n, "keep rate must be the exact integer ratio")
      assert(meanPm >= 0 && meanPm <= 1000000L)
      // bin b holds probabilities in [b/20, (b+1)/20): the mean must land inside
      assert(meanPm >= bin * 50000L && meanPm <= (bin + 1) * 50000L,
        s"mean prob $meanPm outside bin $bin bounds")
    }
    // NOTE deliberately no monotone-agreement assert: on this fixture the
    // two filters genuinely anti-correlate (the cascade gates on alpha
    // ratio, a signal the logit model does not use) — surfacing exactly
    // that disagreement is what the calibration table is FOR.
  }

  test("weakLabels: rule branches, abstention, and confidence arithmetic") {
    import spark.implicits._
    // doc 1: 24 distinct 4-char tokens → r1=+1 (≥20 toks), r2=+1
    // (all distinct), r3=+1 (all ≥3 chars), r4 via n_chars/nt
    val good = (1 to 24).map(i => f"tok$i%02d").mkString(" ")
    // doc 2: 3 tokens, heavy repetition of a 1-char token
    val bad = "a a a"
    // doc 3: mid-length with mixed signals → exercises abstention
    val mid = (1 to 10).map(_ => "ab").mkString(" ")
    val docs = Seq(
      (1L, good, good.length.toLong),
      (2L, bad, bad.length.toLong),
      (3L, mid, mid.length.toLong)).toDF("doc_id", "text", "n_chars")
    val got = QualityModel.weakLabels(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
          r.getInt(5), r.getLong(6))))
      .toMap
    // doc 1: nt=24 nd=24 nl=24, n_chars=143 → al=5 → all four +1
    assert(got(1L) === ((1, 1, 1, 1, 1, 1000000L)))
    // doc 2: nt=3 → r1=-1; nd=1 → dr=333333 → abstain; nl=0 → r3=-1;
    // al = 5/3 = 1 → abstain → s=-2, nv=2, conf 1.0
    assert(got(2L) === ((-1, 0, -1, 0, -1, 1000000L)))
    // doc 3: nt=10 → abstain; nd=1 → dr=100000 → r2=-1; nl=0 → r3=-1;
    // al = 29/10 = 2 → abstain → label -1, conf 1.0
    assert(got(3L) === ((0, -1, -1, 0, -1, 1000000L)))
  }

  test("labelAgreement: perfect anti-correlation lands kappa = -1 exactly") {
    import spark.implicits._
    // 5 docs where r1=+1 (25 tokens) and r2=-1 (all identical), 5 where
    // r1=-1 (4 tokens) and r2=+1 (all distinct): po=0, both marginals
    // 0.5 → pe=0.5e6 → kappa_num/den = -500000/500000 = -1, the
    // perfect-disagreement pole, emitted WITHOUT dividing (negative
    // kappa under truncating vs flooring division diverges)
    val manySame = (1 to 25).map(_ => "xx").mkString(" ")
    val fewDistinct = "aaa bbb ccc ddd"
    val docs = ((1 to 5).map(i => (i.toLong, manySame, manySame.length.toLong))
      ++ (6 to 10).map(i => (i.toLong, fewDistinct, fewDistinct.length.toLong)))
      .toDF("doc_id", "text", "n_chars")
    val row = QualityModel.labelAgreement(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7)))).toMap
    val (nBoth, nAgree, po, pe, num, den) = row(("r1", "r2"))
    assert(nBoth === 10L && nAgree === 0L && po === 0L)
    assert(pe === 500000L && num === -500000L && den === 500000L)
  }

  test("labelAgreement matches an independent driver-side kappa on the fixture") {
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val votes = QualityModel.weakLabels(docs).collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    val lfs = Seq("r1", "r2", "r3", "r4")
    def vote(v: (Int, Int, Int, Int), i: Int): Int = i match {
      case 0 => v._1; case 1 => v._2; case 2 => v._3; case _ => v._4
    }
    val expect = (for {
      a <- 0 until 4; b <- (a + 1) until 4
      both = votes.filter(v => vote(v, a) != 0 && vote(v, b) != 0)
      if both.nonEmpty
    } yield {
      val n = both.length.toLong
      val agree = both.count(v => vote(v, a) == vote(v, b)).toLong
      val paPos = both.count(v => vote(v, a) == 1).toLong * 1000000L / n
      val pbPos = both.count(v => vote(v, b) == 1).toLong * 1000000L / n
      val po = agree * 1000000L / n
      val pe = (paPos * pbPos + (1000000L - paPos) * (1000000L - pbPos)) / 1000000L
      (lfs(a), lfs(b)) -> ((n, agree, po, pe, po - pe, 1000000L - pe))
    }).toMap
    val got = QualityModel.labelAgreement(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7)))).toMap
    assert(got === expect)
  }
}
