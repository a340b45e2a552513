package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite with SparkTestSession {

  /** Crafted corpus in R^64: query 0 plus vectors at known cosines. */
  private def craftedVecs = {
    import spark.implicits._
    def v(f: Int => Float) = Array.tabulate(64)(f)
    Seq(
      (0L, v(i => if (i == 0) 1f else 0f)),             // e0 (query)
      (1L, v(i => if (i == 0) 2f else 0f)),             // parallel → cos 1.0
      (2L, v(i => if (i <= 1) 1f else 0f)),             // 45° → cos ≈ 0.7071
      (3L, v(i => if (i == 1) 1f else 0f)),             // orthogonal → cos 0
      (4L, v(i => if (i == 0) -1f else 0f))             // opposite → cos -1
    ).toDF("vec_id", "embedding")
  }

  test("brute-force top-k ranks by cosine with deterministic tiebreak") {
    val got = Similarity.bruteForceTopK(craftedVecs, numQueries = 1, k = 4)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      (1, 1L, 1.0), (2, 2L, 0.7071), (3, 3L, 0.0), (4, 4L, -1.0)))
  }

  test("near-dup pairs: planted duplicate found at cos 1.0, rest excluded") {
    val got = Similarity.nearDupPairs(craftedVecs, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((0L, 1L, 1.0)))
  }

  test("LSH-bucketed near-dup pairs equal the exact path on planted dups") {
    import org.apache.spark.sql.functions._
    val base = graft.Engine.Tables(spark, "/root/testdata/sf0.01").embeddings
      .select("vec_id", "embedding")
    // plant 30 near-dups at cos ≈ 0.9988 (alternating ±5% per-dim scale):
    // hyperplane bit-flip p ≈ 0.016 ⇒ all-8-bands miss ≈ 2e-10 per pair
    val planted = base.filter(col("vec_id") < 30)
      .select((col("vec_id") + 100000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> cast(x * if(i % 2 = 0, 1.05D, 0.95D) AS float))")
          .as("embedding"))
    val vecs = base.unionByName(planted)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairs(Similarity.nearDupPairs(vecs, threshold = 0.9))
    val lsh = pairs(Similarity.nearDupPairsLsh(vecs, threshold = 0.9))
    assert(exact.size >= 30, "every planted dup must clear the threshold")
    assert(lsh === exact) // full recall AND no false positives, same cosines
  }

  test("LSH results are a subset of brute force with identical cosines") {
    // sf0.01 (500 vecs): ~20 bucket collisions expected at 8 bits; sf0.001's
    // 50 vecs could plausibly produce zero, making the test flaky
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.01").embeddings
    // k = corpus size: LSH candidates can sit below any smaller top-k
    // cutoff, so the exact map must cover every (query, corpus) pair
    val brute = Similarity.bruteForceTopK(vecs, numQueries = 10, k = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val lsh = Similarity.lshTopK(vecs, numQueries = 10, k = 50)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
    assert(lsh.nonEmpty, "some bucket collisions expected at 8 bits / 50 vecs")
    lsh.foreach { case (pair, cos) =>
      assert(brute(pair) === cos, s"LSH cosine for $pair diverges from exact")
    }
  }

  test("IVF results agree with brute force; probe set covers the query cell") {
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.01").embeddings
    val brute = Similarity.bruteForceTopK(vecs, numQueries = 10, k = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val bruteTop = Similarity.bruteForceTopK(vecs, numQueries = 10, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(vecs, numQueries = 10, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
    assert(ivf.nonEmpty)
    ivf.foreach { case (pair, cos) =>
      assert(brute(pair) === cos, s"IVF cosine for $pair diverges from exact")
    }
    val recall = ivf.map(_._1).count(bruteTop) / bruteTop.size.toDouble
    assert(recall > 0.2, s"IVF recall collapsed: $recall") // 4/16 cells probed
  }

  test("kmeans-trained IVF: exact cosines on testdata; recall stays in band") {
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.01").embeddings
    val brute = Similarity.bruteForceTopK(vecs, numQueries = 10, k = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val bruteTop = Similarity.bruteForceTopK(vecs, numQueries = 10, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val trained = Similarity.ivfTopKKmeans(vecs, numQueries = 10, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
    trained.foreach { case (pair, cos) =>
      assert(brute(pair) === cos, s"trained-IVF cosine for $pair diverges from exact")
    }
    // the testdata embeddings are near-uniform noise, so cell structure is
    // arbitrary: trained centroids can't beat seeds here (measured 0.86 vs
    // 0.9) — assert a stable floor; the real advantage shows below
    val recall = trained.map(_._1).count(bruteTop) / bruteTop.size.toDouble
    assert(recall >= 0.5, s"trained-IVF recall collapsed: $recall")
  }

  test("kmeans-trained IVF beats seeded IVF on clustered data") {
    import spark.implicits._
    // 8 well-separated directional clusters; the first 16 vec_ids (the
    // seeded variant's centroids) all land in cluster 0 by construction,
    // so seeded probing sees one region while trained centroids cover all
    val r = new scala.util.Random(7)
    val dim = 64
    val centers = Array.fill(8) {
      val v = Array.fill(dim)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val pts = (0 until 400).map { i =>
      val c = centers(i / 50) // block layout: ids 0..49 cluster 0, ...
      (i.toLong, c.map(x => (x + r.nextGaussian() * 0.05).toFloat).toSeq)
    }
    val df = pts.toDF("vec_id", "embedding")
    val bruteTop = Similarity.bruteForceTopK(df, numQueries = 10, k = 10)
      .collect().map(x => (x.getLong(0), x.getLong(2))).toSet
    def recallOf(out: org.apache.spark.sql.DataFrame): Double =
      out.collect().map(x => (x.getLong(0), x.getLong(2)))
        .count(bruteTop) / bruteTop.size.toDouble
    val seeded = recallOf(Similarity.ivfTopK(df, numQueries = 10, k = 10,
      cells = 8, nProbe = 2))
    val trained = recallOf(Similarity.ivfTopKKmeans(df, numQueries = 10, k = 10,
      cells = 8, nProbe = 2))
    assert(trained >= seeded,
      s"trained $trained < seeded $seeded on clustered data")
    assert(trained >= 0.9, s"trained recall on separable clusters: $trained")
  }

  test("pq codes equal a sequential argmin over the same codebooks") {
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").embeddings
    val books = Similarity.pqCodebooks(m = 4, k = 16, subDim = 16)
    val expected = vecs.select("vec_id", "embedding").collect().map { r =>
      val v = r.getSeq[Float](1).toArray
      val codes = (0 until 4).map { j =>
        (0 until 16).map { p =>
          val c = books(j)(p)
          // same c² − 2·v·c doubles, same left-to-right order as vec_dot
          var dot = 0.0
          var d = 0
          while (d < 16) { dot += v(j * 16 + d).toDouble * c(d); d += 1 }
          (c.map(x => x * x).sum - 2.0 * dot, p)
        }.min._2
      }
      r.getLong(0) -> codes
    }.toMap
    val got = Similarity.pqCodes(vecs).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getInt)).toMap
    assert(got === expected)
    assert(got.values.flatten.forall(c => c >= 0 && c < 16))
  }

  test("ADC ranks a planted exact duplicate first (self-code minimality)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val r = new scala.util.Random(7)
    def rand() = Array.fill(64)((r.nextDouble() - 0.5).toFloat).toSeq
    val qs = (0L until 10L).map(i => (i, rand()))
    // exact copies under ids 100..109; noise under ids >= 1000 so the
    // adist tie-break (vec_id asc) favors the copy
    val dups = qs.map { case (i, v) => (i + 100, v) }
    val noise = (1000L until 1200L).map(i => (i, rand()))
    val df = (qs ++ dups ++ noise).toDF("vec_id", "embedding")
    // encode(q) minimizes every per-subspace table entry, so no vector
    // can have a smaller ADC distance to q than q's own codes — the
    // planted copy (same codes) must surface at rank 1
    val top = Similarity.pqAdcTopK(df, numQueries = 10, topK = 3)
      .filter(col("rk") === 1).collect()
      .map(x => x.getLong(0) -> x.getLong(2)).toMap
    (0L until 10L).foreach { q => assert(top(q) === q + 100, s"query $q") }
  }

  test("pqRerankTopK: exact rerank resolves the near-tie cluster raw ADC cannot") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // The round-17 jitter taxonomy's failure case, crafted adversarially:
    // every replica of a query shares the query's 4-byte code, so raw
    // ADC sees one flat tie and its vec_id-ascending tiebreak picks the
    // SMALLEST ids — which are constructed to be the FARTHEST replicas
    // (perturbation decreases as id grows). The funnel's exact rerank
    // must invert that: true top-k = the LARGEST ids.
    val r = new scala.util.Random(19)
    def rand() = Array.fill(64)((r.nextDouble() - 0.5).toFloat)
    val qs = (0L until 3L).map(i => (i, rand()))
    // 20 replicas per query at perturbation (20-j)·1e-3: id order is the
    // REVERSE of true-distance order; 1e-3-scale offsets never flip a
    // PQ code (centroid gaps are ~0.1-scale on the dyadic grid)
    val reps = qs.flatMap { case (i, v) =>
      (0 until 20).map { j =>
        val eps = (20 - j) * 0.001f
        (100L + i * 100L + j, v.zipWithIndex.map { case (x, d) =>
          x + (if (d % 2 == 0) eps else -eps) })
      }
    }
    val noise = (10000L until 10200L).map(i => (i, rand()))
    val df = (qs ++ reps ++ noise).map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "embedding")
    def topIds(got: org.apache.spark.sql.DataFrame) = got.collect()
      .map(x => (x.getLong(0), x.getLong(2))).groupBy(_._1)
      .map { case (q, a) => q -> a.map(_._2).toSet }
    val exact = topIds(Similarity.bruteForceTopKL2(df, numQueries = 3, k = 10))
    val funnel = topIds(Similarity.pqRerankTopK(df, numQueries = 3, topK = 10))
    val adc = topIds(Similarity.pqAdcTopK(df, numQueries = 3, topK = 10))
    (0L until 3L).foreach { q =>
      assert(funnel(q) === exact(q), s"funnel must match exact for query $q")
    }
    // the collapse the funnel repairs: inside a code-tie the ADC
    // tie-break picks the far end of the replica cluster. A replica's
    // code CAN flip at the crafted perturbations (one of query 2's
    // subvectors sits near a centroid boundary), which hands ADC back
    // a few true neighbors — so the taxonomy assertion is aggregate:
    // raw ADC loses at least half the truth, the funnel loses none.
    val adcHits = (0L until 3L).map(q => adc(q).intersect(exact(q)).size).sum
    assert(adcHits <= 15,
      s"crafted ties must defeat raw ADC (got $adcHits/30 hits) — else " +
        "the test no longer demonstrates the taxonomy case")
    // and the funnel's ranking inside the cluster is the true L2 order
    val rk1 = Similarity.pqRerankTopK(df, numQueries = 3, topK = 10)
      .filter(col("rk") === 1).collect()
      .map(x => x.getLong(0) -> x.getLong(2)).toMap
    (0L until 3L).foreach { q =>
      assert(rk1(q) === 100L + q * 100L + 19L,
        s"rank 1 must be the least-perturbed replica for query $q")
    }
  }

  test("pqRerankTopK: a corpus-covering shortlist reproduces the exact baseline") {
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.01").embeddings
    val exact = Similarity.bruteForceTopKL2(vecs, numQueries = 10, k = 10)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getLong(3)))
    val funnel = Similarity.pqRerankTopK(vecs, numQueries = 10, topK = 10,
        shortlist = 1000)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getLong(3)))
    assert(funnel.toSeq === exact.toSeq)
  }

  test("lshMultiProbeTopK: subset of brute force with identical cosines; banding beats the unbanded path on jittered replicas") {
    import org.apache.spark.sql.functions._
    val base = graft.Engine.Tables(spark, "/root/testdata/sf0.01").embeddings
      .select("vec_id", "embedding")
    // jittered replicas of the 10 query vectors — the stress harness's
    // j=0.15 regime in miniature (deterministic per-dim ±0.15 offsets):
    // far enough to flip several hyperplane signs, the regime where the
    // single 8-bit signature's 1-bit probes lose candidates
    val planted = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000L).as("vec_id"),
        expr("""transform(embedding, (x, i) ->
          cast(x + 0.15D * (cast(pmod(xxhash64(vec_id, i), 201) AS DOUBLE)
            / 100.0D - 1.0D) AS float))""").as("embedding"))
    val vecs = base.unionByName(planted)
    val brute = Similarity.bruteForceTopK(vecs, numQueries = 10, k = 2000)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val mp = Similarity.lshMultiProbeTopK(vecs, numQueries = 10, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
    // candidates are exact-reranked: every reported cosine equals brute
    mp.foreach { case (pair, cos) =>
      assert(brute(pair) === cos, s"mp cosine for $pair diverges from exact")
    }
    // each query's jittered replica is its true nearest neighbor (cos
    // well above the noise floor); the banded multi-probe path must
    // recover essentially all of them where the unbanded path may not
    val mpHits = (0L until 10L).count(q => mp.exists(_._1 == (q, q + 100000L)))
    val single = Similarity.lshTopK(vecs, numQueries = 10, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val singleHits = (0L until 10L).count(q => single.contains((q, q + 100000L)))
    assert(mpHits >= 9, s"banded multi-probe found only $mpHits/10 replicas")
    assert(mpHits >= singleHits,
      s"banding must not lose to the unbanded path: $mpHits vs $singleHits")
  }

  test("trained codebooks shrink the ADC rank band on a near-tie corpus") {
    import spark.implicits._
    // The claim pqRerankTopK's scaladoc makes ("trained codebooks
    // shrink the error floor and let the shortlist drop back toward
    // k-proportional"), measured: a jittered-replica corpus (the 20×
    // j=0.15 stress regime in miniature), the true top-10's WORST ADC
    // rank computed under the dyadic grid vs trained books.
    val base = graft.Engine.Tables(spark, "/root/testdata/sf0.01").embeddings
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def jit(id: Long, d: Int): Float = {
      val h = java.lang.Long.hashCode(id * 64L + d) // deterministic
      (0.15 * ((Math.floorMod(h, 201)) / 100.0 - 1.0)).toFloat
    }
    val planted = for (q <- 0L until 10L; r <- 0 until 20) yield {
      val v = base(q.toInt)._2
      (100000L + q * 100L + r,
        Array.tabulate(64)(d => v(d) + jit(100000L + q * 100L + r, d)))
    }
    val corpus = base ++ planted
    val df = corpus.toSeq.map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "embedding")
    val dyadic = Similarity.pqCodebooks(4, 16, 16)
    val trained = Similarity.pqCodebooksTrained(df)
    // plain-Scala ADC replay (same c²−2·v·c argmin, same floor-micro
    // tables) — 2.2k vectors, exact and framework-free
    def codes(books: IndexedSeq[IndexedSeq[Array[Double]]],
        v: Array[Float]): Array[Int] =
      Array.tabulate(4) { j =>
        (0 until 16).minBy { p =>
          val c = books(j)(p)
          val c2 = c.map(x => x * x).sum
          val dot = (0 until 16).map(d => v(j * 16 + d).toDouble * c(d)).sum
          (c2 - 2 * dot, p)
        }
      }
    def adist(books: IndexedSeq[IndexedSeq[Array[Double]]],
        cs: Array[Int], q: Array[Float]): Long =
      (0 until 4).map { j =>
        val c = books(j)(cs(j))
        val c2 = c.map(x => x * x).sum
        val dot = (0 until 16).map(d => q(j * 16 + d).toDouble * c(d)).sum
        math.floor((c2 - 2 * dot) * 1e6).toLong
      }.sum
    def l2(a: Array[Float], b: Array[Float]): Double =
      (0 until 64).map(d => (a(d).toDouble - b(d)) * (a(d).toDouble - b(d))).sum
    def worstRank(books: IndexedSeq[IndexedSeq[Array[Double]]]): Int = {
      val coded = corpus.map { case (i, v) => (i, v, codes(books, v)) }
      (0L until 10L).map { qi =>
        val q = base(qi.toInt)._2
        val truth = corpus.filter(_._1 != qi)
          .sortBy { case (i, v) => (l2(v, q), i) }.take(10).map(_._1).toSet
        val ranked = coded.filter(_._1 != qi)
          .map { case (i, _, cs) => (adist(books, cs, q), i) }
          .sorted.map(_._2)
        truth.map(t => ranked.indexOf(t) + 1).max
      }.max
    }
    val dyadicBand = worstRank(dyadic)
    val trainedBand = worstRank(trained)
    info(s"worst ADC rank of true top-10: dyadic=$dyadicBand trained=$trainedBand")
    // the measured claim: training tightens the band materially — the
    // shortlist a funnel needs shrinks with it
    assert(trainedBand < dyadicBand,
      s"training must tighten the rank band: $trainedBand vs $dyadicBand")
    assert(trainedBand <= dyadicBand / 2,
      s"expected a material (>=2x) band reduction: $trainedBand vs $dyadicBand")
  }

  test("pqTrainedRerankTopK: constant shortlist matches exact where the untrained funnel needs corpus/4") {
    import spark.implicits._
    // The round-18 composition claim, measured at unit scale: on the
    // near-tie corpus (jittered replicas — the 20× j=0.15 regime in
    // miniature), the TRAINED funnel at its CONSTANT default shortlist
    // (50, independent of corpus size) must reproduce the exact-L2
    // top-10, while the dyadic funnel CLAMPED to the same constant
    // width loses truth (its measured rank band is a corpus fraction —
    // which is exactly why its gate auto-sizes to corpus/4).
    val base = graft.Engine.Tables(spark, "/root/testdata/sf0.01").embeddings
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def jit(id: Long, d: Int): Float = {
      val h = java.lang.Long.hashCode(id * 64L + d)
      (0.15 * ((Math.floorMod(h, 201)) / 100.0 - 1.0)).toFloat
    }
    val planted = for (q <- 0L until 10L; r <- 0 until 20) yield {
      val v = base(q.toInt)._2
      (100000L + q * 100L + r,
        Array.tabulate(64)(d => v(d) + jit(100000L + q * 100L + r, d)))
    }
    val df = (base ++ planted).toSeq.map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "embedding")
    def topIds(got: org.apache.spark.sql.DataFrame) = got.collect()
      .map(x => (x.getLong(0), x.getLong(2))).groupBy(_._1)
      .map { case (q, a) => q -> a.map(_._2).toSet }
    val exact = topIds(Similarity.bruteForceTopKL2(df, numQueries = 10, k = 10))
    val trained = topIds(Similarity.pqTrainedRerankTopK(df, numQueries = 10,
      topK = 10))
    (0L until 10L).foreach { q =>
      assert(trained(q) === exact(q),
        s"trained funnel at shortlist=${Similarity.PqTrainedShortlist} " +
          s"must match exact for query $q")
    }
    val dyadicAt50 = topIds(Similarity.pqRerankTopK(df, numQueries = 10,
      topK = 10, shortlist = Similarity.PqTrainedShortlist))
    val dyadicHits = (0L until 10L)
      .map(q => dyadicAt50(q).intersect(exact(q)).size).sum
    assert(dyadicHits < 100,
      s"the dyadic funnel clamped to 50 must lose truth here ($dyadicHits/100) " +
        "— else the corpus no longer exercises the trained-book advantage")
  }

  test("ivfTopKKmeansSampled: exact cosines; sample-trained cells hold recall on clustered data") {
    import spark.implicits._
    // exactness on the real fixture: candidates are exact-reranked, so
    // every reported cosine must equal the brute-force cosine
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.01").embeddings
    val brute = Similarity.bruteForceTopK(vecs, numQueries = 10, k = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val sampled = Similarity.ivfTopKKmeansSampled(vecs, numQueries = 10, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
    assert(sampled.length === 100)
    sampled.foreach { case (pair, cos) =>
      assert(brute(pair) === cos, s"sampled-IVF cosine for $pair diverges")
    }
    // the statistical claim (scaladoc): a uniform quarter sample sees
    // the same density field, so on data with actual cluster structure
    // the sample-trained index holds the full-trainer's recall (the
    // near-uniform fixture above has no structure to hold — its cell
    // assignment is arbitrary under ANY trainer; the 20× probe in
    // STRESS.md measures parity at scale)
    val r = new scala.util.Random(7)
    val dim = 64
    val centers = Array.fill(8) {
      val v = Array.fill(dim)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val pts = (0 until 400).map { i =>
      val c = centers(i / 50)
      (i.toLong, c.map(x => (x + r.nextGaussian() * 0.05).toFloat).toSeq)
    }
    val df = pts.toDF("vec_id", "embedding")
    val bruteTop = Similarity.bruteForceTopK(df, numQueries = 10, k = 10)
      .collect().map(x => (x.getLong(0), x.getLong(2))).toSet
    def recallOf(out: org.apache.spark.sql.DataFrame): Double =
      out.collect().map(x => (x.getLong(0), x.getLong(2)))
        .count(bruteTop) / bruteTop.size.toDouble
    val full = recallOf(Similarity.ivfTopKKmeans(df, numQueries = 10, k = 10,
      cells = 8, nProbe = 2))
    val samp = recallOf(Similarity.ivfTopKKmeansSampled(df, numQueries = 10,
      k = 10, cells = 8, nProbe = 2))
    assert(samp >= 0.9, s"sample-trained recall on separable clusters: $samp")
    assert(samp >= full - 0.1,
      s"sample-trained recall $samp must hold the full trainer's $full")
  }

  test("ivfPqTrainedTopK: both approximation layers off degenerates to the exact scan") {
    // the composition contract: nProbe = cells (no cell cut) and
    // shortlist = corpus (no ADC cut) must reproduce bruteForceTopKL2
    // row-for-row — else a layer is miswired
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").embeddings
    val n = vecs.count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getLong(3))).toSeq
    val exact = rows(Similarity.bruteForceTopKL2(vecs, numQueries = 10, k = 10))
    val open = rows(Similarity.ivfPqTrainedTopK(vecs, numQueries = 10,
      topK = 10, nProbe = 16, shortlist = n))
    assert(open === exact)
  }

  test("ivfPqTrainedTopK recovers a planted exact duplicate through all three layers") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val r = new scala.util.Random(23)
    def rand() = Array.fill(64)((r.nextDouble() - 0.5).toFloat).toSeq
    val base = (0L until 10L).map(i => (i, rand()))
    val dups = base.map { case (i, v) => (100L + i, v) } // exact copies
    val noise = (1000L until 1300L).map(i => (i, rand()))
    val df = (base ++ dups ++ noise).toDF("vec_id", "embedding")
    // an exact copy shares the query's cell and codes, so it survives
    // the probe cut and the ADC cut, and the exact refine puts it at
    // rank 1 with d2 = 0
    val rk1 = Similarity.ivfPqTrainedTopK(df, numQueries = 10, topK = 3)
      .filter(col("rk") === 1).collect()
      .map(x => x.getLong(0) -> ((x.getLong(2), x.getLong(3)))).toMap
    (0L until 10L).foreach { q =>
      assert(rk1(q) === ((100L + q, 0L)), s"query $q")
    }
  }

  test("ivfPqTrainedSampledTopK: approximation layers off still degenerates to the exact scan") {
    // the degeneracy contract is training-independent: with nProbe =
    // cells and shortlist = corpus, WHATEVER centroids/books the
    // quarter-sample trainer produced must reproduce bruteForceTopKL2
    // row-for-row — the cuts, not the training, are the approximation
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").embeddings
    val n = vecs.count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getLong(3))).toSeq
    val exact = rows(Similarity.bruteForceTopKL2(vecs, numQueries = 10, k = 10))
    val open = rows(Similarity.ivfPqTrainedSampledTopK(vecs, numQueries = 10,
      topK = 10, nProbe = 16, shortlist = n))
    assert(open === exact)
  }

  test("ivfPqTrainedSampledTopK recovers a planted exact duplicate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // same argument as the full-trainer test: an exact copy shares the
    // query's cell and codes under ANY centroids/books — including ones
    // trained on the md5 quarter slice — so it survives both cuts and
    // reranks to d2 = 0
    val r = new scala.util.Random(29)
    def rand() = Array.fill(64)((r.nextDouble() - 0.5).toFloat).toSeq
    val base = (0L until 10L).map(i => (i, rand()))
    val dups = base.map { case (i, v) => (100L + i, v) }
    val noise = (1000L until 1300L).map(i => (i, rand()))
    val df = (base ++ dups ++ noise).toDF("vec_id", "embedding")
    val rk1 = Similarity.ivfPqTrainedSampledTopK(df, numQueries = 10, topK = 3)
      .filter(col("rk") === 1).collect()
      .map(x => x.getLong(0) -> ((x.getLong(2), x.getLong(3)))).toMap
    (0L until 10L).foreach { q =>
      assert(rk1(q) === ((100L + q, 0L)), s"query $q")
    }
  }

  test("ivfPqTopK recovers a planted exact duplicate through both layers") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val r = new scala.util.Random(11)
    def rand() = Array.fill(64)((r.nextDouble() - 0.5).toFloat).toSeq
    val qs = (0L until 10L).map(i => (i, rand()))
    // exact copies share the query's coarse cell AND its PQ codes, and a
    // query's own cell is always its top probe — so the copy must appear
    // with the minimal ADC distance; tiebreak (vec_id asc) puts it first
    val dups = qs.map { case (i, v) => (i + 100, v) }
    val noise = (1000L until 1300L).map(i => (i, rand()))
    val df = (qs ++ dups ++ noise).toDF("vec_id", "embedding")
    val top = Similarity.ivfPqTopK(df, numQueries = 10, topK = 3)
      .filter(col("rk") === 1).collect()
      .map(x => x.getLong(0) -> x.getLong(2)).toMap
    (0L until 10L).foreach { q => assert(top(q) === q + 100, s"query $q") }
    // candidates are genuinely restricted: every returned neighbor of a
    // query lies in one of that query's probed cells — implied by
    // construction; spot-check output arity instead (3 rows per query)
    val counts = Similarity.ivfPqTopK(df, numQueries = 10, topK = 3)
      .groupBy("q_id").count().collect().map(_.getLong(1))
    assert(counts.forall(_ <= 3))
  }

  test("hardNegatives: nearest different-label vectors, never own label") {
    import spark.implicits._
    val r = new scala.util.Random(13)
    def rand() = Array.fill(64)((r.nextDouble() - 0.5).toFloat).toSeq
    // labels by parity; plant for query 0 a near-identical vector with
    // the OPPOSITE label — the canonical hard negative — plus an exact
    // same-label copy that must be excluded despite cos 1.0
    val q0 = rand()
    val rows =
      Seq((0L, q0, 0)) ++
      (1L until 10L).map(i => (i, rand(), (i % 2).toInt)) ++
      Seq((100L, q0.map(x => (x * 1.01f)), 1),   // hard negative, cos≈1
          (101L, q0, 0)) ++                       // same-label copy: excluded
      (1000L until 1200L).map(i => (i, rand(), (i % 2).toInt))
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(df, numQueries = 10, k = 5).collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getLong(3), x.getInt(4)))
    // no mined negative ever carries its query's label
    got.foreach { case (q, ql, _, _, nl) => assert(ql != nl, s"query $q") }
    // query 0's top hard negative is the planted opposite-label twin
    val q0top = got.filter(x => x._1 == 0L && x._3 == 1).head
    assert(q0top._4 === 100L)
    // against an in-memory reference on the full output
    val byId = rows.map(t => t._1 -> ((t._2, t._3))).toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until 64) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
      }
      // valueOf: shortest-decimal HALF_UP, the same rounding Spark's
      // round() applies
      BigDecimal(java.math.BigDecimal.valueOf(d / (math.sqrt(na) * math.sqrt(nb))))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    (0L until 10L).foreach { q =>
      val (qv, ql) = byId(q)
      val expect = rows.filter(t => t._1 >= 10L && t._3 != ql)
        .map(t => (t._1, cos(qv, t._2)))
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
      val mine = got.filter(_._1 == q).sortBy(_._3).map(_._4).toSeq
      assert(mine === expect, s"query $q")
    }
  }

  test("lsh_bands equals the declarative per-plane vec_dot formulation") {
    import graft.functions.LshBandHashes
    import graft.functions.VecDot.vecDot
    import org.apache.spark.sql.functions._
    // lattice sync: the expression's flat plane matrix IS planeWeights
    assert(LshBandHashes.planesFor(8, 64) sameElements
      Similarity.planeWeights(8).flatten)
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").embeddings
    val (bits, bands) = (192, 16)
    val rows = bits / bands
    val w = Similarity.planeWeights(bits)
    val bandCols = (0 until bands).map { b =>
      (0 until rows).map { j =>
        when(vecDot(col("embedding"), lit(w(b * rows + j))) > 0d, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    }
    val declarative = vecs.select(col("vec_id"), array(bandCols: _*).as("bh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val native = vecs.select(col("vec_id"),
        LshBandHashes.lshBands(col("embedding"), bits, bands).as("bh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native === declarative)
  }

  test("knnClassify predicts the majority label of the true neighbors") {
    import spark.implicits._
    // two well-separated directions in the 64-dim space; the pool
    // clusters around them with distinct labels
    def vec(axis: Int, wobble: Float): Seq[Float] =
      Seq.tabulate(64)(d =>
        if (d == axis) 1f else if (d == axis + 2) wobble else 0f)
    val rows = Seq(
      (0L, vec(0, 0f), -1),    // query near axis-0 cluster
      (1L, vec(10, 0f), -1),   // query near axis-10 cluster
      (2L, vec(0, 0.10f), 7), (3L, vec(0, 0.15f), 7), (4L, vec(0, 0.20f), 7),
      (5L, vec(10, 0.10f), 9), (6L, vec(10, 0.15f), 9), (7L, vec(10, 0.20f), 9))
    val vecs = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.knnClassify(vecs, numQueries = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got === Array((0L, 7, 3L), (1L, 9, 3L)))
  }

  test("knnClassifyIvf agrees with exact kNN labels on the real corpus") {
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.01").embeddings
    val exact = Similarity.knnClassify(vecs)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ivf = Similarity.knnClassifyIvf(vecs)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(ivf.keySet === exact.keySet, "every query must get a label")
    // probe recall bounds label agreement; on near-uniform testdata the
    // majority vote is robust to the cell approximation
    val agree = exact.count { case (q, l) => ivf(q) == l }
    assert(agree >= exact.size * 8 / 10,
      s"IVF labels agree on only $agree/${exact.size}")
  }

  test("knnClassify vote ties break toward the smaller label id") {
    import spark.implicits._
    def vec(axis: Int, wobble: Float): Seq[Float] =
      Seq.tabulate(64)(d =>
        if (d == axis) 1f else if (d == axis + 1) wobble else 0f)
    // k=2 neighbors carry one vote each for labels 8 and 3 → tie → 3
    val rows = Seq(
      (0L, vec(0, 0f), -1),
      (1L, vec(0, 0.10f), 8),   // nearest
      (2L, vec(0, 0.20f), 3),   // second
      (3L, vec(30, 0f), 5))     // far: must not be consulted at k=2
    val got = Similarity.knnClassify(rows.toDF("vec_id", "embedding", "label"),
        numQueries = 1, k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got === Array((0L, 3, 1L)))
  }

  test("quantizeI8: codes in range, reconstruction within half a scale step") {
    import org.apache.spark.sql.functions._
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.01").embeddings
    val maxAggs = (1 to 64).map(i => max(abs(element_at(col("embedding"), i))))
    val scales = vecs.agg(maxAggs.head, maxAggs.tail: _*)
      .head().toSeq.map(_.asInstanceOf[Float].toDouble / 127.0)
    val rows = Similarity.quantizeI8(vecs)
      .join(vecs, "vec_id")
      .select(col("q8"), col("embedding"))
      .collect()
    rows.foreach { r =>
      val q = r.getSeq[Int](0)
      val x = r.getSeq[Float](1)
      q.indices.foreach { d =>
        assert(q(d) >= -127 && q(d) <= 127)
        // |x - q·s| ≤ s/2 everywhere: max|x| maps to exactly 127 (no
        // clamp loss), so round-half-up is within half a step
        assert(math.abs(x(d) - q(d) * scales(d)) <= scales(d) / 2 + 1e-12,
          s"dim $d: x=${x(d)} q=${q(d)} s=${scales(d)}")
      }
    }
  }

  test("i8TopK: planted duplicate quantizes identically and ranks first") {
    import org.apache.spark.sql.functions._
    val base = graft.Engine.Tables(spark, "/root/testdata/sf0.01").embeddings
      .select("vec_id", "embedding")
    // vec 10000 = exact copy of query 0: identical codes → maximal dot
    val planted = base.filter(col("vec_id") === 0)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val got = Similarity.i8TopK(base.unionByName(planted), numQueries = 1)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(got.head === ((1, 10000L)))
  }

  test("i8TopK keeps high recall against the exact ranking") {
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.01").embeddings
    val exact = Similarity.bruteForceTopK(vecs, numQueries = 10, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val i8 = Similarity.i8TopK(vecs, numQueries = 10, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & i8).size.toDouble / exact.size
    assert(recall >= 0.8, s"int8 recall@10 = $recall")
  }

  test("matryoshka: exact full-dim scores on survivors; recall bounded by shortlist") {
    import org.apache.spark.sql.functions._
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.01").embeddings
    // shortlist = corpus ⇒ the funnel degenerates to exact full-dim
    // ranking: must equal brute force on ids (scores are micro-ints)
    val exact = Similarity.bruteForceTopK(vecs, numQueries = 5, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val full = Similarity.matryoshkaTopK(vecs, numQueries = 5, topK = 10,
        shortlist = 10000)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(full === exact)
    // the real funnel on the RANDOM fixture: i.i.d. dims mean the
    // 16-dim prefix carries only 1/4 of the signal — the worst case
    // for MRL (trained matryoshka embeddings concentrate information
    // in the prefix). A 10%-of-corpus shortlist still has to beat the
    // ~2% random-subset baseline by an order of magnitude.
    val funnel = Similarity.matryoshkaTopK(vecs, numQueries = 5, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact.map(t => (t._1, t._3)).toSet & funnel).size.toDouble / exact.size
    assert(recall >= 0.3, s"matryoshka recall@10 = $recall")
    // a prefix-dominant corpus (MRL-like energy profile: tail dims
    // scaled to 1%) must funnel with near-perfect recall. The exact
    // reference is the funnel's own corpus-wide shortlist (dot
    // ranking — bruteForce's cosine only coincides with dot on the
    // unit-norm fixture, which the rescale breaks).
    val mrl = vecs.select(col("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i < 16, x).otherwise(x * lit(0.01f))).as("embedding"))
    val mrlExact = Similarity.matryoshkaTopK(mrl, numQueries = 5, topK = 10,
        shortlist = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val mrlFunnel = Similarity.matryoshkaTopK(mrl, numQueries = 5, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val mrlRecall = (mrlExact & mrlFunnel).size.toDouble / mrlExact.size
    assert(mrlRecall >= 0.9, s"MRL-profile recall@10 = $mrlRecall")
  }

  test("recallAtK: counts intersections per query, zero-candidate queries stay") {
    import spark.implicits._
    val exact = Seq((0L, 1L), (0L, 2L), (0L, 3L), (7L, 4L), (7L, 5L), (7L, 6L))
      .toDF("q_id", "neighbor_id")
    val approx = Seq((0L, 1L), (0L, 3L), (0L, 99L)) // q 7: no candidates
      .toDF("q_id", "neighbor_id")
    val got = Similarity.recallAtK(exact, approx, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((0L, 2L, 666666L), (7L, 0L, 0L)))
  }

  test("mrrAtK: rank of the true neighbor, integer reciprocal, 0 when missing") {
    import spark.implicits._
    val exact = Seq((0L, 1, 100L), (0L, 2, 101L), (7L, 1, 200L), (9L, 1, 300L))
      .toDF("q_id", "rk", "neighbor_id")
    val approx = Seq(
      (0L, 1, 100L),            // true nn first → rr 1e6
      (7L, 3, 200L), (7L, 1, 9L) // true nn at rank 3 → 333333
    ).toDF("q_id", "rk", "neighbor_id") // q 9: true nn absent → 0
    val got = Similarity.mrrAtK(exact, approx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((0L, 1L, 1000000L), (7L, 3L, 333333L),
      (9L, 0L, 0L)))
  }

  test("annRecall audit agrees with a direct set comparison on the fixture") {
    val dir = "/root/testdata/sf0.001"
    val brute = Similarity.annBruteForce(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    val lsh = Similarity.annLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    val expected = brute.map { case (q, bs) =>
      val hits = bs.map(_._2).toSet &
        lsh.getOrElse(q, Array.empty[(Long, Long)]).map(_._2).toSet
      q -> hits.size.toLong
    }
    val got = Similarity.annRecall(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    got.values.foreach(h => assert(h >= 0L && h <= 10L))
  }

  test("annRecallPq: exact-L2 baseline is right, audit matches a direct compare") {
    val dir = "/root/testdata/sf0.001"
    // in-memory exact squared-L2 top-10 (double arithmetic; micro
    // quantization can only matter on exact ties, which break on vec_id
    // in both spellings)
    val all = graft.Engine.Tables(spark, dir).embeddings
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val exactMem = all.filter(_._1 < 10).map { case (q, qe) =>
      q -> all.filter(_._1 != q)
        .map { case (v, e) =>
          val d2 = e.zip(qe).map { case (x, y) => (x - y) * (x - y) }.sum
          (d2, v)
        }
        .sortBy { case (d2, v) => (d2, v) }.take(10).map(_._2).toSet
    }.toMap
    val gotExact = Similarity.bruteForceTopKL2(
        graft.Engine.Tables(spark, dir).embeddings).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).groupBy(_._1)
      .map { case (q, xs) => q -> xs.map(_._2).toSet }
    assert(gotExact === exactMem)
    val pq = graft.SparkEntry.queries("pq_adc_topk")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .map { case (q, xs) => q -> xs.map(_._2).toSet }
    val expected = exactMem.map { case (q, ex) =>
      q -> (ex & pq.getOrElse(q, Set.empty)).size.toLong }
    val audit = Similarity.annRecallPq(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(audit === expected)
  }

  test("ivfUpsert: delta assigned to base-derived cells exactly as an in-memory argmax") {
    val dir = "/root/testdata/sf0.001"
    val all = graft.Engine.Tables(spark, dir).embeddings
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val cents = all.filter { case (id, _) => id % 10 != 9 && id < 16 }
      .sortBy(_._1)
    val expected = all.filter(_._1 % 10 == 9).map { case (id, e) =>
      // argmax cosine, larger c_id on ties — the ann_ivf spelling
      val best = cents.map { case (cid, c) =>
        val cos = c.zip(e).map { case (a, b) => a * b }.sum / (norm(c) * norm(e))
        (cos, cid)
      }.maxBy { case (cos, cid) => (cos, cid) }
      id -> ((best._2.toInt, math.floor(best._1 * 1e6).toLong))
    }.toMap
    val got = Similarity.ivfUpsert(
        graft.Engine.Tables(spark, dir).embeddings).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got.keySet === expected.keySet)
    // cells must match everywhere; the micro cosine may differ by 1 ulp
    // of accumulation order in the in-memory reference, so bound it
    got.foreach { case (id, (cell, micro)) =>
      assert(cell === expected(id)._1, s"vec $id cell")
      assert(math.abs(micro - expected(id)._2) <= 1L, s"vec $id cos_micro")
    }
    // delta slice only, nothing base-sized leaks into the output
    assert(got.keySet.forall(_ % 10 == 9))
  }

  test("bitext mining: planted translations mined, hubs margin-rejected") {
    import spark.implicits._
    // 12 X-side (even id) base vectors, each dominated by its own axis
    // plus deterministic hash noise (near-orthogonal set — distinct
    // "sentences"); each planted translation y = its x with a tiny
    // perturbation → near-1 cosine against its partner, near-0 elsewhere
    val dim = 16
    def gridVec(seed: Int): Array[Float] =
      Array.tabulate(dim)(d =>
        ((if (d == seed % dim) 1.0 else 0.0) +
          0.05 * HashGrid.point(s"bt:$seed:$d")).toFloat)
    val xs = (0 until 12).map(i => (2L * i, gridVec(i).toSeq))
    val ys = (0 until 12).map { i =>
      val v = gridVec(i)
      v(0) = v(0) + 0.01f
      (2L * i + 1, v.toSeq)
    }
    val vecs = (xs ++ ys).toDF("vec_id", "embedding")
    val mined = Similarity.bitextMargin(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toList
    // every planted pair (2i, 2i+1) is mined — and nothing else
    assert(mined.map(m => (m._1, m._2)).toSet ===
      (0 until 12).map(i => (2L * i, 2L * i + 1)).toSet)
    // margins clear the threshold decisively (near-dup vs background)
    mined.foreach { case (_, _, m) =>
      assert(m >= Similarity.BitextMarginThresholdMicro) }
    // hub rejection — the failure mode the ratio margin exists for: a
    // vector with strong components on EVERY axis is cosine-close to
    // every y (raw-cosine mining would happily match it), but its
    // neighborhood is flat, so best/avg-of-top-k ≈ 1 < threshold
    val hub = Array.tabulate(dim)(d =>
      (1.0 + 0.02 * HashGrid.point(s"hub:$d")).toFloat)
    val withHub = ((40L, hub.toSeq) +: (xs ++ ys)).toDF("vec_id", "embedding")
    val mined2 = Similarity.bitextMargin(withHub).collect().map(_.getLong(0)).toSet
    assert(!mined2.contains(40L),
      "a hub (uniformly close to everything) must not clear the ratio margin")
  }

  test("bitext mining: oversized X batch fails loudly, pointing at the IVF path") {
    import spark.implicits._
    // 20 vectors → 10 even-id X rows; a 5-row ceiling must trip the
    // count-based broadcast contract BEFORE any cross join runs, and
    // the message must route the caller to bitextMarginIvf
    val vecs = (0 until 20)
      .map(i => (i.toLong, Seq.tabulate(4)(d => (i + d).toFloat)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalStateException] {
      Similarity.bitextMargin(vecs, maxXRows = 5L)
    }
    assert(ex.getMessage.contains("bitextMarginIvf"))
    assert(ex.getMessage.contains("maxXRows=5"))
    // the same input under a sufficient bound still mines fine
    Similarity.bitextMargin(vecs, maxXRows = 10L).collect()
  }

  test("IVF bitext mining: planted pairs survive the probe path") {
    import spark.implicits._
    // clustered construction: 4 primary axes (3 pairs each — so probed
    // cells contain real NEIGHBORHOODS, not just the partner; an
    // isolated twin pair's margin is exactly 1.0 by construction and is
    // conservatively NOT mined) plus a per-pair secondary axis that
    // separates partners (cos ≈ 1) from same-cluster background
    // (cos ≈ 0.6)
    val dim = 16
    def gridVec(seed: Int): Array[Float] =
      Array.tabulate(dim)(d =>
        ((if (d == seed % 4) 1.0 else 0.0) +
          (if (d == 4 + seed / 4) 0.8 else 0.0) +
          0.05 * HashGrid.point(s"bt:$seed:$d")).toFloat)
    val xs = (0 until 12).map(i => (2L * i, gridVec(i).toSeq))
    val ys = (0 until 12).map { i =>
      val v = gridVec(i)
      v(0) = v(0) + 0.01f
      (2L * i + 1, v.toSeq)
    }
    val vecs = (xs ++ ys).toDF("vec_id", "embedding")
    val mined = Similarity.bitextMarginIvf(vecs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every planted pair is recovered through the probe path; an x may
    // also ONLY match planted partners (candidate sets are restricted,
    // never invented)
    (0 until 12).foreach { i =>
      assert(mined.get(2L * i).contains(2L * i + 1),
        s"planted pair (${2 * i}, ${2 * i + 1}) lost in the probe path")
    }
  }

  test("annRecallRp audit equals a direct set comparison") {
    val dir = "/root/testdata/sf0.001"
    val vecs = graft.Engine.Tables(spark, dir).embeddings
    val exact = Similarity.bruteForceTopKDot(vecs).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
    val approx = Similarity.rpTopK(vecs).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
    val audit = Similarity.annRecallRp(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    (0L until 10L).foreach { q =>
      val hit = exact(q).intersect(approx(q)).size.toLong
      assert(audit(q) === ((hit, hit * 1000000L / 10L)), s"query $q")
    }
  }

  test("rpSigns: deterministic sparse Achlioptas pattern, ~1/3 density") {
    val s1 = Similarity.rpSigns()
    val s2 = Similarity.rpSigns()
    assert(s1 === s2)
    assert(s1.length === Similarity.RpDim && s1.head.length === 64)
    val nonzero = s1.flatten.count(_ != 0)
    val total = s1.flatten.length
    // expected density 1/3; allow a generous band for the hash draw
    assert(nonzero > total / 5 && nonzero < total / 2,
      s"density off: $nonzero / $total")
    assert(s1.flatten.forall(v => v == -1 || v == 0 || v == 1))
  }

  test("rpProject matches an independent driver-side projection") {
    val dir = "/root/testdata/sf0.001"
    val vecs = graft.Engine.Tables(spark, dir).embeddings
    val raw = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val signs = Similarity.rpSigns()
    val got = Similarity.rpProject(vecs).collect()
    assert(got.length === raw.size)
    got.take(20).foreach { row =>
      val v = raw(row.getLong(0))
      (0 until Similarity.RpDim).foreach { j =>
        // replay the same left-to-right ± double sum
        var acc = 0.0
        (0 until 64).foreach { d =>
          if (signs(j)(d) == 1) acc += v(d).toDouble
          else if (signs(j)(d) == -1) acc -= v(d).toDouble
        }
        assert(row.getLong(1 + j) === math.floor(acc * 1e6).toLong,
          s"vec ${row.getLong(0)} dim $j")
      }
    }
  }

  test("rpTopK: JL shortlist preserves most of the exact top-10") {
    val dir = "/root/testdata/sf0.001"
    val vecs = graft.Engine.Tables(spark, dir).embeddings
    val raw = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // exact full-dim micro-dot top-10 per query, the rpTopK tie rule
    def microDot(a: Array[Float], b: Array[Float]): Long = {
      var acc = 0.0
      (0 until 64).foreach(d => acc += a(d).toDouble * b(d).toDouble)
      math.floor(acc * 1e6).toLong
    }
    val exact = (0L until 10L).map { q =>
      q -> raw.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, microDot(raw(q), v)) }
        .sortBy { case (id, d) => (-d, id) }.take(10).map(_._1).toSet
    }.toMap
    def meanRecall(shortlist: Int): Double = {
      val got = Similarity.rpTopK(vecs, shortlist = shortlist).collect()
        .groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
      val recalls = (0L until 10L).map(q =>
        exact(q).intersect(got(q)).size.toDouble / exact(q).size)
      recalls.sum / recalls.size
    }
    // the fixture's embeddings are near-uniform random — the HARDEST
    // case for a 16-d JL shortlist (neighbor gaps are tiny), so the
    // default-shortlist floor is 3× the random-shortlist baseline
    // (50/500 = 0.10) rather than a high absolute; widening the
    // shortlist must buy recall back (the funnel's contract), and the
    // exact rerank guarantees whatever survives is ranked exactly
    val r50 = meanRecall(50)
    val r150 = meanRecall(150)
    assert(r50 >= 0.3, s"recall@10 with shortlist 50: $r50")
    assert(r150 >= r50 && r150 >= 0.55,
      s"recall should grow with shortlist width: $r50 -> $r150")
  }

  test("binarize: packed halves equal a driver-side sign pack") {
    val dir = "/root/testdata/sf0.001"
    val vecs = graft.Engine.Tables(spark, dir).embeddings
    val raw = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def pack(v: Array[Float], off: Int): Long =
      (0 until 32).foldLeft(0L)((acc, d) =>
        if (v(d + off) >= 0f) acc | (1L << d) else acc)
    val got = Similarity.binarize(vecs).collect()
    assert(got.length === raw.size)
    got.foreach { row =>
      val v = raw(row.getLong(0))
      assert(row.getLong(1) === pack(v, 0), s"sig_lo of ${row.getLong(0)}")
      assert(row.getLong(2) === pack(v, 32), s"sig_hi of ${row.getLong(0)}")
    }
    // both halves use only bits 0–31: never negative, never > 2^32-1
    got.foreach { row =>
      assert(row.getLong(1) >= 0L && row.getLong(1) <= 0xFFFFFFFFL)
      assert(row.getLong(2) >= 0L && row.getLong(2) <= 0xFFFFFFFFL)
    }
  }

  test("hammingTopK: sign-identical plant ranks first at distance 0") {
    import org.apache.spark.sql.functions._
    val base = graft.Engine.Tables(spark, "/root/testdata/sf0.001").embeddings
      .select("vec_id", "embedding")
    // a positively-scaled copy of query 3 has identical signs → ham 0;
    // plant id is large so the vec_id tiebreak can't hand it rank 1 for free
    val planted = base.filter(col("vec_id") === 3)
      .select(lit(90000L).as("vec_id"),
        expr("transform(embedding, x -> cast(x * 2.0D AS float))")
          .as("embedding"))
    val got = Similarity.hammingTopK(base.unionByName(planted))
      .collect().filter(_.getLong(0) == 3L)
    assert(got.head.getLong(2) === 90000L, "plant must rank first")
    assert(got.head.getLong(3) === 0L, "sign-identical ⇒ Hamming 0")
    // distances are nondecreasing down the ranking and ≤ 64
    val hams = got.map(_.getLong(3))
    assert(hams.toSeq === hams.sorted.toSeq)
    assert(hams.forall(h => h >= 0 && h <= 64))
  }

  test("hammingRerank: exact micro-dots on survivors; shortlist buys recall") {
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").embeddings
    val raw = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def microDot(a: Array[Float], b: Array[Float]): Long = {
      var acc = 0.0
      (0 until 64).foreach(d => acc += a(d).toDouble * b(d).toDouble)
      math.floor(acc * 1e6).toLong
    }
    val exact = (0L until 10L).map { q =>
      q -> raw.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, microDot(raw(q), v)) }
        .sortBy { case (id, d) => (-d, id) }.take(10).map(_._1).toSet
    }.toMap
    def run(shortlist: Int) = Similarity.hammingRerank(vecs, shortlist = shortlist)
      .collect()
    // survivors carry the EXACT full-dim micro dot (rerank contract)
    run(50).foreach { r =>
      assert(r.getLong(3) === microDot(raw(r.getLong(0)), raw(r.getLong(2))),
        s"micro dot of (${r.getLong(0)}, ${r.getLong(2)})")
    }
    def meanRecall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val got = rows.groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      (0L until 10L).map(q =>
        exact(q).intersect(got(q)).size.toDouble / exact(q).size).sum / 10
    }
    // raw-sign bits on near-uniform vectors are the 1-bit tier's hardest
    // case (like the JL test): demand 3× the random-shortlist baseline
    // (50/500 = 0.10) and that widening the shortlist buys recall back
    val r50 = meanRecall(run(50))
    val r150 = meanRecall(run(150))
    assert(r50 >= 0.3, s"recall@10 with shortlist 50: $r50")
    assert(r150 >= r50, s"recall must not shrink with shortlist: $r50 -> $r150")
  }

  test("centerBinarize: driver replay exact; centering improves bit balance") {
    val dir = "/root/testdata/sf0.001"
    val vecs = graft.Engine.Tables(spark, dir).embeddings
    val raw = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // driver replay of the exact integer pipeline: micro sums, means by
    // TRUNCATING division (the cross-engine common ground — DuckDB's
    // integer // truncates), sign of centered micro values
    val n = raw.size.toLong
    val means = (0 until 64).map { d =>
      raw.values.map(v => math.floor(v(d).toDouble * 1e6).toLong).sum / n
    }
    def pack(v: Array[Float], off: Int): Long =
      (0 until 32).foldLeft(0L)((acc, d) =>
        if (math.floor(v(d + off).toDouble * 1e6).toLong - means(d + off) >= 0)
          acc | (1L << d)
        else acc)
    val got = Similarity.centerBinarize(vecs).collect()
    got.foreach { row =>
      val v = raw(row.getLong(0))
      assert(row.getLong(1) === pack(v, 0), s"sig_lo of ${row.getLong(0)}")
      assert(row.getLong(2) === pack(v, 32), s"sig_hi of ${row.getLong(0)}")
    }
    // the point of centering: mean |n_pos − 32| must not get WORSE than
    // the raw signs' balance (on a centered corpus each bit is ~50/50)
    def imbalance(rows: Array[org.apache.spark.sql.Row], lo: Int, hi: Int) =
      rows.map(r => math.abs(
        java.lang.Long.bitCount(r.getLong(lo)) +
        java.lang.Long.bitCount(r.getLong(hi)) - 32)).sum.toDouble / rows.length
    val rawImb = imbalance(Similarity.binarize(vecs).collect(), 1, 2)
    val cenImb = imbalance(got, 1, 2)
    assert(cenImb <= rawImb + 0.5,
      s"centering must not worsen balance: raw $rawImb -> centered $cenImb")
  }

  test("hammingLshTopK: banded candidates are a subset with identical distances") {
    import org.apache.spark.sql.functions._
    val base = graft.Engine.Tables(spark, "/root/testdata/sf0.001").embeddings
      .select("vec_id", "embedding")
    // sign-identical plant shares ALL eight bands → always a candidate,
    // always rank 1 at distance 0 (the pigeonhole guarantee's easy end)
    val planted = base.filter(col("vec_id") === 2)
      .select(lit(90000L).as("vec_id"),
        expr("transform(embedding, x -> cast(x * 3.0D AS float))")
          .as("embedding"))
    val vecs = base.unionByName(planted)
    val banded = Similarity.hammingLshTopK(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    assert(banded((2L, 90000L)) === 0L, "all-band-sharing plant found at 0")
    // every banded result appears in the exact scan with the SAME
    // distance (banding can only shrink the candidate set, not rescore)
    val exact = Similarity.hammingTopK(vecs, topK = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    banded.foreach { case (k, ham) =>
      assert(exact(k) === ham, s"pair $k rescored by banding")
    }
    // the distance-7 pigeonhole: any exact neighbor at ham <= 7 must be
    // a banded candidate (7 flips touch at most 7 of 8 bands)
    val bandedByQ = banded.keys.groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    exact.filter(_._2 <= 7L).foreach { case ((q, v), _) =>
      assert(bandedByQ.getOrElse(q, Set.empty).contains(v),
        s"ham<=7 neighbor ($q,$v) missed by banding")
    }
  }

  test("annRecallHamLsh audit equals a direct set comparison") {
    val dir = "/root/testdata/sf0.001"
    val vecs = graft.Engine.Tables(spark, dir).embeddings
    val exact = Similarity.hammingTopK(vecs).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
    val approx = Similarity.hammingLshTopK(vecs).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
    val audit = Similarity.annRecallHamLsh(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    (0L until 10L).foreach { q =>
      val hit = exact(q).intersect(approx.getOrElse(q, Set.empty)).size.toLong
      assert(audit(q) === ((hit, hit * 1000000L / 10L)), s"query $q")
    }
  }

  test("annRecallHam audit equals a direct set comparison") {
    val dir = "/root/testdata/sf0.001"
    val vecs = graft.Engine.Tables(spark, dir).embeddings
    val exact = Similarity.bruteForceTopKDot(vecs).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
    val approx = Similarity.hammingRerank(vecs).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
    val audit = Similarity.annRecallHam(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    (0L until 10L).foreach { q =>
      val hit = exact(q).intersect(approx(q)).size.toLong
      assert(audit(q) === ((hit, hit * 1000000L / 10L)), s"query $q")
    }
  }
  test("shared-collect trained chains are bit-identical to the distributed loop") {
    // every trained entry point trains through Clustering.lloyd, which
    // feeds all of a call's chains from ONE collect when the training
    // frame fits the driver budget. An RDD-lineage copy of the same rows
    // has no size estimate and takes the distributed loop: the books,
    // centroids and rows must be identical — the arm is scheduling,
    // never arithmetic
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq
    val table: Seq[(String, DataFrame => Seq[Any])] = Seq(
      "pqCodebooksTrained" -> (f => Similarity.pqCodebooksTrained(f).map(_.map(_.toSeq))),
      "pqTrainedCodes" -> (f => rows(Similarity.pqTrainedCodes(f))),
      "pqTrainedRerankTopK" -> (f => rows(Similarity.pqTrainedRerankTopK(f))),
      "ivfTopKKmeans" -> (f => rows(Similarity.ivfTopKKmeans(f))),
      "ivfTopKKmeansSampled" -> (f => rows(Similarity.ivfTopKKmeansSampled(f))),
      "ivfPqTrainedTopK" -> (f => rows(Similarity.ivfPqTrainedTopK(f))),
      "ivfPqTrainedSampledTopK" -> (f => rows(Similarity.ivfPqTrainedSampledTopK(f))),
      "ivfXModalTrainedTopK" -> (f => rows(Similarity.ivfXModalTrainedTopK(f,
        f.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("embedding"))))))
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").embeddings
    val copy = spark.createDataFrame(vecs.rdd, vecs.schema)
    assert(Clustering.takesDriverArm(vecs), "parquet frame missed the driver arm")
    assert(!Clustering.takesDriverArm(copy), "RDD copy took the driver arm")
    val diverged = table.collect { case (name, run) if run(vecs) != run(copy) => name }
    assert(diverged.isEmpty, s"diverged between the arms: ${diverged.mkString(", ")}")
  }
}
