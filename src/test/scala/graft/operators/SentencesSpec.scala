package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class SentencesSpec extends AnyFunSuite with SparkTestSession {

  private def md5hex(s: String): String = java.security.MessageDigest
    .getInstance("MD5").digest(s.getBytes("UTF-8"))
    .map(b => f"$b%02x").mkString

  private def h60(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(15), 16)

  /** Independent synthesis reference: same boundary rule as
    * Sentences.sentenced, computed token-at-a-time in memory.
    */
  private def punctuate(text: String): String = {
    val toks = text.trim.split("\\s+")
    toks.zipWithIndex.map { case (t, i0) =>
      val i = i0 + 1
      val ends = h60(s"sent:$t:$i") % Sentences.SentenceEvery == 0 ||
        i == toks.length
      if (ends) t + "." else t
    }.mkString(" ")
  }

  private def segments(punct: String): Seq[String] =
    "[^.!?]+[.!?]?".r.findAllIn(punct).map(_.trim).toSeq

  test("sentenced + segment match an in-memory reference on real docs") {
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = texts.flatMap { case (id, t) =>
      segments(punctuate(t)).zipWithIndex.map { case (s, i) =>
        (id, i + 1L) -> ((s, s.split("\\s+").length.toLong))
      }
    }
    val got = Sentences.sentenceSegment(Sentences.sentenced(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getString(2), r.getLong(3))))
      .toMap
    assert(got === expected)
    // every token lands in exactly one sentence: token counts conserve
    val tokTotal = texts.values.map(_.trim.split("\\s+").length.toLong).sum
    assert(got.values.map(_._2).sum === tokTotal)
    // boundary keyed on (token, position): identical texts must
    // synthesize identical sentence sequences
    import spark.implicits._
    val twin = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val seqs = Sentences.sentenceSegment(Sentences.sentenced(twin)).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(_.getString(2)).toSeq).toMap
    assert(seqs(1L) === seqs(2L))
  }

  test("sentenceDedup keeps first occurrences, drops later exact copies") {
    import spark.implicits._
    // doc 5 repeats doc 1's text → every doc-5 sentence is a later copy;
    // doc 7 is unique → all kept
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq((1L, base), (5L, base), (7L, "unique words only here"))
      .toDF("doc_id", "text")
    val got = Sentences.sentenceDedupFrom(
      Sentences.sentenceSegment(Sentences.sentenced(docs))).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    val byDoc = got.groupBy(_._1._1).view.mapValues(_.values.toSeq).toMap
    assert(byDoc(1L).forall(_ == 1), "first occurrences must keep")
    assert(byDoc(5L).forall(_ == 0), "exact later copies must drop")
    assert(byDoc(7L).forall(_ == 1), "unique sentences must keep")
  }

  test("sentenceChunks: start-offset bucketing, no sentence split, digests") {
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val sented = Sentences.sentenced(docs)
    val sents = Sentences.sentenceSegment(sented).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val B = Sentences.ChunkBudget
    val expected = sents.flatMap { case (id, ss) =>
      var before = 0L
      val tagged = ss.map { case (_, _, s, n) =>
        val c = before / B; before += n; (c, s, n)
      }
      tagged.groupBy(_._1).map { case (c, xs) =>
        (id, c) -> ((xs.length.toLong, xs.map(_._3).sum,
          h60(xs.map(_._2).mkString(" "))))
      }
    }
    val got = Sentences.sentenceChunksFrom(Sentences.sentenceSegment(sented)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === expected)
    // every doc starts at chunk 0; ids may legitimately skip (a sentence
    // longer than the budget advances the offset past whole chunks), but
    // each doc's token total is conserved across its chunks
    val byDoc = got.toSeq.groupBy(_._1._1)
    byDoc.foreach { case (id, cs) =>
      assert(cs.map(_._1._2).min === 0L, s"doc $id must start at chunk 0")
      assert(cs.map(_._2._2).sum ===
        sents(id).map(_._4).sum, s"doc $id token conservation")
    }
  }
}
