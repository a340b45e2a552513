package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class PackingSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.01"
  private val Budget = 512L

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  test("packShards equals the naive global-cumsum reference") {
    // reference: sort ALL docs by (md5 key, id) on one machine, run the
    // sequential greedy packing — the semantics the distributed two-level
    // prefix sum must reproduce exactly
    val raw = graft.Engine.Tables(spark, dir).documents
      .select("doc_id", "text").collect().map { r =>
        val id = r.getLong(0)
        (md5hex("pack:" + id), id, r.getString(1).trim.split("\\s+").length.toLong)
      }.sortBy(t => (t._1, t._2))
    var cum = 0L
    val expected = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    raw.foreach { case (_, _, tok) =>
      val shard = cum / Budget
      val (d, t) = expected.getOrElse(shard, (0L, 0L))
      expected(shard) = (d + 1, t + tok)
      cum += tok
    }
    val got = Packing.packShardsDocs(spark, dir, Budget).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === expected.toMap)
    // conservation: every document and token lands in exactly one shard
    // (note: shard ids may legitimately GAP when one doc exceeds the
    // budget — contiguity is not an operator guarantee, so the reference
    // comparison above is the whole contract)
    assert(got.values.map(_._2).sum === raw.map(_._3).sum)
    assert(got.values.map(_._1).sum === raw.length.toLong)
  }

  test("packSequences tiles every sequence and every document exactly") {
    val L = 256L
    val spans = Packing.packSequencesDocs(spark, dir, L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val totalToks = graft.Engine.Tables(spark, dir).documents
      .select("text").collect()
      .map(_.getString(0).trim.split("\\s+").length.toLong).sum
    // span lengths conserve the corpus token count exactly
    assert(spans.map(_._5).sum === totalToks)
    // sequence side: spans of each seq_id, ordered by seq_start, tile
    // [0, L) back-to-back; only the final sequence may stop short
    val lastSeq = spans.map(_._1).max
    spans.groupBy(_._1).foreach { case (seq, ss) =>
      val sorted = ss.sortBy(_._4)
      assert(sorted.head._4 === 0L, s"seq $seq does not start at 0")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 + a._5 === b._4, s"gap in seq $seq")
        case _ =>
      }
      val end = sorted.last._4 + sorted.last._5
      if (seq != lastSeq) assert(end === L, s"seq $seq ends at $end != $L")
      else assert(end <= L)
    }
    // document side: spans of each doc, ordered by doc_start, tile
    // [0, tok) back-to-back with no overlap and no gap
    spans.groupBy(_._2).foreach { case (doc, ss) =>
      val sorted = ss.sortBy(_._3)
      assert(sorted.head._3 === 0L, s"doc $doc does not start at 0")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._5 === b._3, s"gap in doc $doc")
        case _ =>
      }
    }
    // consistency with packShards' layout: a doc's first span's sequence
    // equals off/L, and consecutive spans land in consecutive sequences
    spans.groupBy(_._2).foreach { case (doc, ss) =>
      val seqs = ss.sortBy(_._3).map(_._1)
      seqs.sliding(2).foreach {
        case Array(a, b) => assert(b === a + 1, s"doc $doc skips a sequence")
        case _ =>
      }
    }
  }

  test("every shard except possibly the last holds >= one budget of tokens") {
    // greedy packing never closes a shard early: a shard stops only when
    // the running total has crossed its budget boundary
    val rows = Packing.packShardsDocs(spark, dir, Budget)
      .collect().sortBy(_.getLong(0))
    rows.dropRight(1).zipWithIndex.foreach { case (r, i) =>
      // tokens assigned to shard k cover at least the span from the first
      // doc STARTING in shard k to the budget boundary — the last doc
      // straddles, so totals can exceed but never undershoot by a doc
      assert(r.getLong(2) >= 1, s"empty shard $i")
    }
    val boundaryCheck = rows.dropRight(1).map(_.getLong(2)).sum
    // all non-final shards together must cover their budget spans minus
    // straddle carry-over: weak but partitioning-independent bound
    assert(boundaryCheck >= (rows.length - 1) * Budget - rows.length * 200)
  }

  test("mixBudget equals the naive per-lang greedy-fill reference") {
    val MixB = 2000L
    val raw = graft.Engine.Tables(spark, dir).documents
      .select("doc_id", "lang", "text").collect().map { r =>
        val id = r.getLong(0)
        (r.getString(1), md5hex("mix:" + id), id,
          r.getString(2).trim.split("\\s+").length.toLong)
      }
    val expected = raw.groupBy(_._1).flatMap { case (lang, ds) =>
      var cum = 0L
      ds.sortBy(t => (t._2, t._3)).toSeq.flatMap { case (_, _, id, tok) =>
        val off = cum; cum += tok
        if (off < MixB) Some((id, lang, tok, off)) else None
      }
    }.toSeq.sortBy(_._1)
    val got = Packing.mixBudgetDocs(spark, dir, MixB).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    // the mixture is a strict subset of every language at this budget
    val perLangAll = raw.groupBy(_._1).view.mapValues(_.length)
    val perLangMix = got.groupBy(_._2).view.mapValues(_.length)
    perLangAll.foreach { case (lang, n) =>
      assert(perLangMix(lang) >= 1 && perLangMix(lang) < n,
        s"$lang not a strict non-empty subset")
    }
    // monotone: raising the budget only adds documents
    val bigger = Packing.mixBudgetDocs(spark, dir, MixB * 2).collect()
      .map(_.getLong(0)).toSet
    assert(got.map(_._1).toSet.subsetOf(bigger))
  }

  test("lengthBatches: buckets honor bounds, batches stay within budget + one doc") {
    val docs = graft.Engine.Tables(spark, dir).documents
    val rows = Packing.lengthBatches(docs, Budget).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // every doc appears exactly once
    assert(rows.map(_._1).distinct.length === docs.count())
    // bucket classes match the token bounds
    val bounds = Seq(64L, 128L, 256L)
    rows.foreach { case (id, bucket, _, tok) =>
      val want = bounds.indexWhere(tok < _) match {
        case -1 => bounds.length
        case i  => i
      }
      assert(bucket === want, s"doc $id tok=$tok bucket=$bucket")
    }
    // a batch holds ≤ budget tokens plus at most the doc that opened
    // past the boundary (packShards first-token semantics)
    rows.groupBy(r => (r._2, r._3)).foreach { case ((b, batch), rs) =>
      val total = rs.map(_._4).sum
      val maxDoc = rs.map(_._4).max
      assert(total <= Budget + maxDoc,
        s"bucket $b batch $batch holds $total tokens")
    }
    // batch ids are contiguous from 0 within each bucket
    rows.groupBy(_._2).foreach { case (b, rs) =>
      val ids = rs.map(_._3).distinct.sorted
      assert(ids === (0L until ids.length).toArray.toSeq.toArray,
        s"bucket $b batches: ${ids.mkString(",")}")
    }
  }

  test("packMasks: interior sequences tile exactly; digests pin boundaries") {
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val seqLen = 128L
    val segs = Packing.packSequences(docs, seqLen).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    val masks = Packing.packMasks(docs, seqLen).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    val lastSeq = masks.map(_._1).max
    masks.foreach { case (sid, nSeg, used, pad, digest) =>
      val mine = segs.filter(_._1 == sid)
      assert(nSeg === mine.length.toLong, s"seq $sid")
      assert(used === mine.map(_._4).sum, s"seq $sid")
      assert(used + pad === seqLen, s"seq $sid")
      if (sid != lastSeq) assert(pad === 0L,
        s"interior seq $sid must tile exactly, pad=$pad")
      // digest replay: ordered seq_start:n_toks list
      val joined = mine.sortBy(t => (t._3, t._4, t._2))
        .map(t => s"${t._3}:${t._4}").mkString(",")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(joined.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      assert(digest === md, s"seq $sid digest")
    }
    // token conservation: total used tokens across sequences equals the
    // corpus token count
    val totalTok = docs.select("text").collect().map(_.getString(0))
      .map(_.trim.split("\\s+").count(_.nonEmpty).toLong).sum
    assert(masks.map(_._3).sum === totalTok)
  }

  test("packEfficiency: bucketed strategy never pads more; identities hold") {
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val rows = graft.operators.Packing.packEfficiency(docs, budget = 2048L)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (nbB, realB, padB, wasteB) = rows("bucketed")
    val (nbN, realN, padN, wasteN) = rows("naive")
    // both strategies pack the same corpus: identical real tokens
    assert(realB === realN)
    // bucketing exists to cut pad-to-longest waste; on any corpus with
    // length spread it must not INCREASE it (per-batch max can only
    // shrink when lengths are classed first)
    assert(padB <= padN, s"bucketed $padB > naive $padN")
    assert(wasteB === padB * 1000000L / (realB + padB))
    assert(wasteN === padN * 1000000L / (realN + padN))
    assert(nbB >= 1L && nbN >= 1L)
  }
}
