package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class RetrievalSpec extends AnyFunSuite with SparkTestSession {

  test("bm25 equals a hand-rolled sequential reference on real docs") {
    val dir = "/root/testdata/sf0.001"
    val terms = Retrieval.DefaultTerms
    val (k1, b) = (1.2, 0.75)
    val raw = graft.Engine.Tables(spark, dir).documents
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").filter(_.nonEmpty)))
    val n = raw.length.toDouble
    val avgdl = raw.map(_._2.length.toDouble).sum / raw.length
    val dfs = terms.map(t => raw.count(_._2.contains(t)).toDouble)
    val expected = raw.flatMap { case (id, toks) =>
      val dl = toks.length.toDouble
      val s = terms.indices.map { i =>
        val tf = toks.count(_ == terms(i)).toDouble
        val idf = math.log((n - dfs(i) + 0.5) / (dfs(i) + 0.5) + 1.0)
        idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
      }.reduceLeft(_ + _)
      val hits = terms.count(toks.contains)
      // same rounding Catalyst's Round applies to doubles
      if (s > 0) Some((id, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, hits))
      else None
    }.sortBy(t => (-t._2, t._1)).take(100).toSeq
    val got = graft.SparkEntry.queries("bm25_topk")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(got === expected)
    assert(got.nonEmpty && got.forall(_._2 > 0))
  }

  test("bm25 orders by term rarity and saturates term frequency") {
    import spark.implicits._
    // 20 filler docs so idf separates; 'zebra' appears once (rare),
    // 'common' in every doc (idf ~ 0)
    val filler = (100L until 120L).map(id => (id, "common filler words here"))
    val docs = (Seq(
      (1L, "zebra common pad pad"),         // rare term once
      (2L, "common common pad pad"),        // frequent term only
      (3L, "zebra zebra zebra common")      // rare term thrice: saturates, still > once
    ) ++ filler).toDF("doc_id", "text")
    val r = Retrieval.bm25TopK(docs, Seq("zebra", "common"), topK = 50)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(3) > r(1), "higher tf of a rare term must score higher")
    assert(r(1) > r(2), "one rare term must beat any pile of ubiquitous terms")
    // saturation: tripling tf must NOT triple the score
    assert(r(3) < 3 * r(1))
  }

  test("hybridTopK fuses lexical and semantic ranks by RRF") {
    val dir = "/root/testdata/sf0.001"
    val got = Retrieval.hybridDocs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(got.nonEmpty && got.length <= 50)
    // in-memory RRF over the two independently computed candidate lists
    val lex = graft.SparkEntry.queries("bm25_topk")(spark, dir).collect()
      .map(_.getLong(0)).zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
    val t = graft.Engine.Tables(spark, dir)
    val q = Retrieval.queryVector()
    val qn = math.sqrt(q.map(x => x * x).sum)
    val sem = t.embeddings.select("vec_id", "embedding").collect()
      .map { r =>
        val v = r.getSeq[Float](1).toArray
        var dot = 0.0; var n2 = 0.0
        for (i <- v.indices) { dot += v(i).toDouble * q(i); n2 += v(i).toDouble * v(i).toDouble }
        (r.getLong(0), dot / (math.sqrt(n2) * qn))
      }.sortBy { case (id, c) => (-c, id) }.take(100)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val expected = (lex.keySet ++ sem.keySet).toSeq.map { id =>
      val rrf = lex.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        sem.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      (id, lex.getOrElse(id, 0), sem.getOrElse(id, 0),
        BigDecimal(rrf).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, _, _, rrf) => (-rrf, id) }.take(50)
    assert(got.toSeq === expected)
    // sanity: every emitted doc appears in at least one candidate list
    got.foreach { case (id, rl, rs, _) =>
      assert(rl > 0 || rs > 0, s"doc $id in neither candidate list")
    }
  }

  /** In-memory MaxSim reference: Σ_i max_j micro⟨q_i, d_j⟩ over 4×16-d
    * token blocks, quantized before max/sum like the operator.
    */
  private def maxsimRef(q: Array[Float], d: Array[Float]): Long =
    (0 until 4).map { i =>
      (0 until 4).map { j =>
        var acc = 0.0
        (0 until 16).foreach(k =>
          acc += q(i * 16 + k).toDouble * d(j * 16 + k).toDouble)
        math.floor(acc * 1e6).toLong
      }.max
    }.sum

  test("maxSimTopK matches the in-memory reference on the fixture") {
    val dir = "/root/testdata/sf0.001"
    val vecs = graft.Engine.Tables(spark, dir).embeddings
    val raw = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val expect = (0L until 10L).map { q =>
      q -> raw.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, maxsimRef(raw(q), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(10)
    }.toMap
    val got = Retrieval.maxSimTopK(vecs).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getLong(3))).toSeq
      }
    (0L until 10L).foreach(q => assert(got(q) === expect(q), s"query $q"))
  }

  test("maxsim is invariant to document token-block order; pooled dot is not") {
    import spark.implicits._
    // q's best match per token block lives in a DIFFERENT block of d:
    // late interaction finds it wherever it is, a flat dot cannot
    val q = Array.tabulate(64)(k => if (k < 16) 1.0f else 0.0f)
    val dPerm = Array.tabulate(64)(k => if (k >= 48) 1.0f else 0.0f)
    val dId = q.clone()
    assert(maxsimRef(q, dPerm) === maxsimRef(q, dId),
      "block permutation must not change MaxSim")
    val flatDot = (0 until 64).map(k => q(k) * dPerm(k)).sum
    assert(flatDot === 0.0f, "the flat dot misses the permuted match")
    // and the operator agrees with the reference on this construction
    val vecs = Seq((0L, q.toSeq), (1L, dPerm.toSeq), (2L, dId.toSeq))
      .toDF("vec_id", "embedding")
    val rows = Retrieval.maxSimTopK(vecs, numQueries = 1, k = 2).collect()
      .map(r => (r.getLong(2), r.getLong(3))).toSeq
    assert(rows.map(_._2).distinct.size === 1,
      s"permuted and identity docs must tie under MaxSim: $rows")
  }
}
