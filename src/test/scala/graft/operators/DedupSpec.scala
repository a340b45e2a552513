package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite with SparkTestSession {

  /** Independent shingle-Jaccard oracle. */
  private def jaccard(a: String, b: String, n: Int = 3): Double = {
    def sh(s: String) = s.trim.split("\\s+").sliding(n).map(_.mkString(" ")).toSet
    val (sa, sb) = (sh(a), sh(b))
    sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  private val docA = "the quick brown fox jumps over the lazy dog again and again"
  private val docB = "the quick brown fox jumps over the lazy dog again and once" // near-dup of A
  private val docC = "completely different content with no overlap whatsoever here ok"

  test("exact dedup groups identical text, keeps min doc_id") {
    import spark.implicits._
    val docs = Seq((0L, docA), (1L, docB), (2L, docA), (3L, docA)).toDF("doc_id", "text")
    val got = Dedup.exactDedupDocs(docs).as[(Long, Long)].collect().toSeq
    assert(got === Seq((0L, 3L), (1L, 1L)))
  }

  test("n-gram jaccard pairs match an independent implementation") {
    import spark.implicits._
    val docs = Seq((0L, docA), (1L, docB), (2L, docC)).toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(docs, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    val expect = jaccard(docA, docB)
    assert(got.map(p => (p._1, p._2)) === Seq((0L, 1L)))
    assert(math.abs(got.head._3 - expect) < 1e-6)
  }

  test("adaptive DF-capped jaccard equals the uncapped pair set on testdata") {
    // the gated entry derives its df cap from the corpus's own shingle-df
    // histogram (quantileDfCap); planted near-dups share rare shingles,
    // so capping candidate generation must not cost a single pair here —
    // while removing the quadratic hot-shingle keys. A tight explicit cap
    // still works through the same code path.
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.01").documents
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = norm(Dedup.jaccardPairs(docs, threshold = 0.8))
    assert(uncapped.nonEmpty, "fixture should contain planted near-dups")
    assert(norm(Dedup.jaccardPairsAdaptive(docs, threshold = 0.8)) === uncapped)
    assert(norm(Dedup.jaccardPairs(docs, threshold = 0.8, maxDf = Some(100)))
      === uncapped)
  }

  test("prefix-filtered jaccard equals the uncapped pair set on testdata") {
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.01").documents
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = norm(Dedup.jaccardPairs(docs, threshold = 0.8))
    assert(uncapped.nonEmpty, "fixture should contain planted near-dups")
    assert(norm(Dedup.jaccardPairsPrefix(docs, tNum = 4, tDen = 5)) === uncapped)
  }

  test("prefix screen keeps pairs whose overlap is ENTIRELY hot shingles") {
    import spark.implicits._
    // 40 docs all sharing one boilerplate block (df 40 — far above any
    // derived df cap) + per-doc unique tails, plus one true near-dup pair
    // (0, 1) whose overlap is ONLY that hot boilerplate. The df-capped
    // screen documents this as its one-sided recall loss; the prefix
    // screen must still find the pair: for docs 0/1 the boilerplate
    // shingles are their RAREST (only) shingles, so they sit in the
    // prefix regardless of global df.
    val boiler = (1 to 12).map(i => s"license$i").mkString(" ")
    val docs = (
      Seq((0L, boiler), (1L, boiler)) ++
        (2L to 39L).map(i => (i, s"$boiler " + (1 to 30).map(j => s"u${i}w$j").mkString(" ")))
      ).toDF("doc_id", "text")
    val got = Dedup.jaccardPairsPrefix(docs, tNum = 4, tDen = 5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) === Seq((0L, 1L)), s"got $got")
    assert(got.head._3 === 1.0)
    // and the df-capped screen indeed misses it on this corpus — the
    // adversarial shape the prefix filter exists to close
    assert(Dedup.jaccardPairsAdaptive(docs, threshold = 0.8,
      pairsPerDoc = 1L).count() === 0L)
  }

  test("prefix jaccard matches uncapped across thresholds incl. ceil boundaries") {
    import spark.implicits._
    // thresholds chosen so t·|x| lands ON integers for fixture doc sizes
    // (the ⌈t·n⌉ boundary a float ceil can get wrong) and off them
    val docs = (0L to 11L).map { i =>
      val base = (1 to 10).map(j => s"w$j").mkString(" ")
      val tail = (1 to (i % 4).toInt).map(j => s"t${i}x$j").mkString(" ")
      (i, s"$base $tail")
    }.toDF("doc_id", "text")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for ((num, den) <- Seq((1L, 2L), (3L, 4L), (4L, 5L), (9L, 10L), (1L, 1L))) {
      val t = num.toDouble / den
      assert(norm(Dedup.jaccardPairsPrefix(docs, num, den)) ===
        norm(Dedup.jaccardPairs(docs, threshold = t)),
        s"threshold $num/$den")
    }
  }

  test("containment catches a doc embedded in a larger doc that jaccard misses") {
    import spark.implicits._
    // doc 1 = doc 0's full text plus 3× as much unrelated prose: every
    // shingle of 0 appears in 1 (containment 1.0) but the union is so
    // much bigger that jaccard sits far below any dedup threshold
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    val big = small + " " + (1 to 30).map(i => s"filler$i word$i").mkString(" ")
    val other = "totally unrelated content about something else entirely here"
    val docs = Seq((0L, small), (1L, big), (2L, other)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, threshold = 0.9)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) === Seq((0L, 1L)))
    val (_, _, cont, jac) = got.head
    assert(cont === 1.0, s"small doc is fully contained: $got")
    assert(jac < 0.2, s"jaccard must miss this pair: $got")
    // and the jaccard path indeed reports nothing at the same threshold
    assert(Dedup.jaccardPairs(docs, threshold = 0.9).count() === 0L)
  }

  test("containment pairs are a superset of same-threshold jaccard pairs") {
    // jac = |∩|/|∪| ≤ |∩|/min(|A|,|B|) = cont pointwise, and both gates
    // run the same candidate screen — so on the fixture corpus every
    // jaccard pair must re-surface in the containment output
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val jac = keys(Dedup.jaccardPairsAdaptive(docs, threshold = 0.9))
    val cont = keys(Dedup.containmentPairs(docs, threshold = 0.9))
    assert(jac.nonEmpty)
    assert(jac.subsetOf(cont), s"missing: ${jac.diff(cont).take(5)}")
  }

  test("softDedupWeights: 1/m micro weights per cluster, singletons weigh 1.0") {
    import spark.implicits._
    // docs 0,1,2 one near-dup family (m = 3); doc 3 unrelated singleton
    val docs = Seq(
      (0L, docA), (1L, docA + " x"), (2L, docA + " y"), (3L, docC))
      .toDF("doc_id", "text")
    val got = Dedup.softDedupWeights(docs, tNum = 7, tDen = 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (0L, 3L, 333333L), (1L, 3L, 333333L), (2L, 3L, 333333L),
      (3L, 1L, 1000000L)))
    // every doc keeps a row (soft: nothing is dropped), and each
    // cluster's total mass is ≤ 1.0 with equality iff m divides 1e6
    assert(got.map(_._1) === Seq(0L, 1L, 2L, 3L))
  }

  test("minhashMergeable: sharded merge equals direct signature for any sharding") {
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    def run(shards: Int, parts: Int = 0) = {
      val d = if (parts > 0) docs.repartition(parts) else docs
      Dedup.minhashMergeable(d, shards).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    }
    // shards = 1 IS the direct signature; per-lane min is associative,
    // so any shard count and any partitioning must merge to it exactly
    val direct = run(1)
    assert(direct.nonEmpty)
    assert(run(4) === direct)
    assert(run(13) === direct)
    assert(run(4, parts = 17) === direct)
  }

  test("dupCurve: exact ladder for planted family sizes") {
    import spark.implicits._
    // families: one of 3 near-dups, one of 2, plus 2 singletons → 7 docs
    val docs = Seq(
      (0L, docA), (1L, docA + " x"), (2L, docA + " y"),
      (3L, docC), (4L, docC + " q"),
      (5L, "lonely text number one with quite some words inside"),
      (6L, "another lonely text saying different things entirely ok"))
      .toDF("doc_id", "text")
    val got = Dedup.dupCurve(docs, tNum = 7, tDen = 10)
      .as[(Long, Long, Long)].collect().toSeq
    // m per doc: 3,3,3,2,2,1,1 → ≥1:7, ≥2:5, ≥4/8/16/32:0
    assert(got === Seq(
      (1L, 7L, 1000000L), (2L, 5L, 714285L), (4L, 0L, 0L),
      (8L, 0L, 0L), (16L, 0L, 0L), (32L, 0L, 0L)))
  }

  test("ngramCoverage: exact covered fractions per eval doc") {
    import spark.implicits._
    // eval doc 0: 6 words → 2 distinct 5-grams, BOTH present in train
    // doc 10 (full coverage); eval doc 1: one of its two 5-grams only;
    // eval doc 2: nothing shared
    val e0 = "a b c d e f"
    val e1 = "p q r s t u"
    val e2 = "v w x y z zz"
    val train = Seq(
      (10L, "a b c d e f g"),       // covers both of e0's grams (+1 own)
      (11L, "p q r s t nope"))      // covers only e1's first gram
      .toDF("doc_id", "text")
    val ev = Seq((0L, e0), (1L, e1), (2L, e2)).toDF("doc_id", "text")
    val got = Dedup.ngramCoverage(train, ev)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (0L, 2L, 2L, 1000000L),
      (1L, 2L, 1L, 500000L),
      (2L, 2L, 0L, 0L)))
  }

  test("derivedDfCap: quantile and budget bounds follow the histogram") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def shOf(rows: Seq[(String, Long)]) = rows.toDF("shingle", "doc_id")
      .select(org.apache.spark.sql.functions.xxhash64(col("shingle")).as("h"),
        col("doc_id"))
    def capOf(sh: org.apache.spark.sql.DataFrame, permille: Int = 999,
        pairsPerDoc: Long = Dedup.JaccardPairsPerDoc): Long = {
      val docs = sh.select(col("doc_id")).distinct()
      Dedup.derivedDfCap(sh, docs, permille, pairsPerDoc)
    }
    // synthetic histogram: 990 shingles at df=2, 9 at df=5, 1 at df=50 —
    // the 99.9% quantile bound must admit df 5, exclude the df-50
    // outlier; the default budget (1000/doc, ~2050 docs here) is slack
    val rows =
      (0 until 990).flatMap(s => (0 until 2).map(d => (s"r$s", 2000L + d))) ++
      (0 until 9).flatMap(s => (0 until 5).map(d => (s"m$s", 3000L + d))) ++
      (0 until 50).map(d => ("hot", 4000L + d))
    assert(capOf(shOf(rows)) === 5L)
    // permille=1000 admits everything (budget still slack here)
    assert(capOf(shOf(rows), permille = 1000) === 50L)
    // a dup-saturated histogram: 100 shingles ALL at df=40 over 40 docs
    // (the replica-family shape). Quantile alone would admit df=40
    // (78k expansions); a 100-pairs-per-doc budget (4000) must refuse —
    // cum_pairs at df=40 is 100·780 = 78000 > 4000 → floor at 2
    val fam = (0 until 100).flatMap(s =>
      (0 until 40).map(d => (s"f$s", 5000L + d)))
    assert(capOf(shOf(fam), pairsPerDoc = 100L) === 2L)
    // a 2000-pairs-per-doc budget (80k ≥ 78k expansions) admits df=40
    assert(capOf(shOf(fam), pairsPerDoc = 2000L) === 40L)
    // tiny corpora floor at 2
    assert(capOf(shOf(Seq(("x", 1L)))) === 2L)
  }

  test("minhash LSH finds exactly the exact-jaccard pairs on testdata") {
    // sf0.01 has 25 planted near-dup pairs at jaccard ≥ 0.9 (sf0.001 may
    // have too few for a meaningful recall check)
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.01").documents
    val exact = Dedup.jaccardPairs(docs, threshold = 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, threshold = 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh === exact) // full recall at 0.9 with 16x4 bands + exact verify
  }

  test("connected components: chains merge transitively, islands stay apart") {
    import spark.implicits._
    // graph: 1-2, 2-3, 3-4 (chain) and 10-11 (island); 99 isolated (absent)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components: driver fast path equals the RDD loop exactly") {
    import spark.implicits._
    // deterministic pseudo-random graph with chains, cliques and islands
    val edges = (0 until 400).map { i =>
      val a = (i * 2654435761L) % 97
      val b = (a + 1 + (i * 40503L) % 7) % 97
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2)
    val pairs = edges.toDF("doc_a", "doc_b")
    val fast = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    // smallGraphMaxEdges = 0 forces the distributed label-propagation loop
    val dist = Dedup.connectedComponents(pairs, smallGraphMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(fast === dist)
    assert(fast.nonEmpty)
    // component label is the minimum member id in both paths
    fast.groupBy(_._2).foreach { case (comp, members) =>
      assert(members.keys.min === comp)
    }
  }

  test("dedup_clusters_loop: forced label-propagation equals the fast path end-to-end") {
    // the gated twin forces smallGraphMaxEdges = 0 (every graph takes the
    // RDD loop); clustering must be bit-identical to the driver fast path
    val fast = Dedup.dedupClusters(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val loop = Dedup.dedupClustersLoop(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fast.nonEmpty, "fixture should contain near-dup clusters")
    assert(loop === fast)
  }

  test("survivors: one canonical doc per near-dup chain, islands keep themselves") {
    import spark.implicits._
    // 0~1 near-dups (chain via prefix-screened pairs), 2 unrelated:
    // survivors = {0, 2}
    val docs = Seq((0L, docA), (1L, docA), (2L, docC)).toDF("doc_id", "text")
    val got = Dedup.survivors(docs).as[Long].collect().toSeq
    assert(got === Seq(0L, 2L))
    // retention invariant on real data: survivors = corpus − (members −
    // clusters), with pairs generated the way survivors generates them
    val real = graft.Engine.Tables(spark, "/root/testdata/sf0.01").documents
    val pairs = Dedup.jaccardPairsPrefix(real, tNum = 9, tDen = 10)
    val members = Dedup.connectedComponents(pairs).count()
    val clusters = Dedup.connectedComponents(pairs)
      .select("component").distinct().count()
    assert(Dedup.survivors(real).count() === real.count() - (members - clusters))
  }

  test("cdcApply: updates replace, inserts add, deletes drop, rest rides") {
    import spark.implicits._
    val base = Seq((1L, "one"), (2L, "two"), (3L, "three"))
      .toDF("doc_id", "text")
    val upserts = Seq((2L, "two v2"), (9L, "nine")).toDF("doc_id", "text")
    val deletes = Seq(3L).toDF("doc_id")
    val got = Dedup.cdcApply(base, upserts, deletes)
      .as[(Long, String)].collect().sorted.toSeq
    assert(got === Seq((1L, "one"), (2L, "two v2"), (9L, "nine")))
    // empty changeset is the identity
    val same = Dedup.cdcApply(base,
        upserts.limit(0), deletes.limit(0))
      .as[(Long, String)].collect().sorted.toSeq
    assert(same === Seq((1L, "one"), (2L, "two"), (3L, "three")))
    // applying the snapshot-diff construction then diffing against the
    // result closes the loop: diff(base, cdcApply(...)) sees exactly
    // the changeset's touch set
    val diff = Dedup.snapshotDiff(base,
        Dedup.cdcApply(base, upserts, deletes))
      .as[(Long, String)].collect().toMap
    assert(diff === Map(2L -> "changed", 3L -> "removed", 9L -> "added"))
  }

  test("decontaminate: train docs sharing a 5-gram with eval are dropped") {
    import spark.implicits._
    // train doc 1 embeds a 5-gram of eval doc 0; train doc 2 is clean
    val evalDocs = Seq((0L, docA)).toDF("doc_id", "text")
    val train = Seq(
      (1L, "prefix words then the quick brown fox jumps and more"),
      (2L, docC)).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(train, evalDocs).as[Long].collect().toSeq
    assert(kept === Seq(2L))
  }

  test("decontaminateBloom: identical output to exact decontaminate, no broadcast join") {
    import spark.implicits._
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val train = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 20 =!= 0)
    val evalD = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 20 === 0)
    val exact = Dedup.decontaminate(train, evalD).as[Long].collect().toSeq
    val bloomed = Dedup.decontaminateBloom(train, evalD)
    // collect on THIS Dataset (not a .as[] derivative) so the inspected
    // queryExecution is the one that ran
    assert(bloomed.collect().map(_.getLong(0)).toSeq === exact)
    // the Bloom path's contract: the eval hash set is never broadcast —
    // the prefilter is a scalar-subquery bloom probe and the exact verify
    // a SHUFFLED semi-join. (The final anti-join on contaminated ids,
    // bounded by leak volume, may still broadcast — that's fine.)
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom probe missing from plan:\n$plan")
    assert(plan.contains("ShuffledHashJoin") && plan.contains("LeftSemi"),
      s"exact verify should be a shuffled semi-join:\n$plan")
    // the bloom subquery appears on both sides of the verify join
    // (constraint propagation copies the probe filter); it must be
    // EXECUTED once — Spark's ReuseSubquery dedupes the second instance
    assert(plan.contains("ReusedSubquery"),
      s"expected the bloom subquery to be built once:\n${plan.take(3000)}")
  }

  test("bloom false positives never leak: tiny filter still yields exact output") {
    import spark.implicits._
    // expectedItems=1 forces a saturated, high-fpp filter — the exact
    // verify join must still remove every false positive
    val evalDocs = Seq((0L, docA)).toDF("doc_id", "text")
    val train = Seq(
      (1L, "prefix words then the quick brown fox jumps and more"),
      (2L, docC), (3L, "unrelated filler sentence about nothing in particular today")
    ).toDF("doc_id", "text")
    val kept = Dedup.decontaminateBloom(train, evalDocs, expectedEvalShingles = 1L)
      .as[Long].collect().toSeq
    assert(kept === Seq(2L, 3L))
  }

  test("ingestDedup: delta docs duplicating the corpus are rejected") {
    import spark.implicits._
    val corpus = Seq((0L, docA), (2L, docC),
      (4L, "xy")                        // short doc, below shingle width
    ).toDF("doc_id", "text")
    val delta = Seq(
      (7L, docA),                       // exact dup of corpus 0
      (17L, docB),                      // near dup of corpus 0 (jac >= 0.9? check below)
      (27L, "totally fresh sentence nothing like anything else whatsoever indeed"),
      (37L, "xy")                       // exact dup of a short corpus doc
    ).toDF("doc_id", "text")
    val kept = Dedup.ingestDedup(corpus, delta, threshold = 0.5)
      .as[Long].collect().toSeq
    // docB vs docA jaccard at 3-gram ~0.6 >= 0.5 -> rejected
    assert(jaccard(docA, docB) >= 0.5)
    assert(kept === Seq(27L))
  }

  test("ingestDedup: a delta re-crawl reusing a corpus doc_id is sized per side") {
    import spark.implicits._
    // same doc_id 5 on both sides with DIFFERENT text: the delta text is a
    // near-dup of corpus doc 0, and must still be caught — a union-based
    // verify would merge id 5's two shingle sets and deflate the Jaccard
    val corpus = Seq((0L, docA), (5L, docC)).toDF("doc_id", "text")
    val delta = Seq((5L, docB)).toDF("doc_id", "text")
    val kept = Dedup.ingestDedup(corpus, delta, threshold = 0.5)
      .as[Long].collect().toSeq
    assert(kept === Seq.empty)
  }

  test("ingestDedup: within-delta duplicates are NOT rejected (corpus-only screen)") {
    import spark.implicits._
    val corpus = Seq((0L, docC)).toDF("doc_id", "text")
    val delta = Seq((7L, docA), (17L, docA)).toDF("doc_id", "text")
    val kept = Dedup.ingestDedup(corpus, delta).as[Long].collect().toSeq
    assert(kept === Seq(7L, 17L))
  }

  test("dupStats: per-source doc counts, distinct counts, dup ratio") {
    import spark.implicits._
    val docs = Seq(
      (0L, "web", docA), (1L, "web", docA), (2L, "web", docB),
      (3L, "books", docC)).toDF("doc_id", "source", "text")
    val got = Dedup.dupStats(docs).as[(String, Long, Long, Double)].collect().toSeq
    assert(got === Seq(("books", 1L, 1L, 0.0), ("web", 3L, 2L, 0.333333)))
  }

  test("simhash: identical docs collide at hamming 0; banding finds them") {
    import spark.implicits._
    val docs = Seq((0L, docA), (1L, docA), (2L, docC)).toDF("doc_id", "text")
    val hashes = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    assert(hashes(0L) === hashes(1L))
    assert(hashes(0L) !== hashes(2L))
    val pairs = Dedup.simhashPairs(docs)
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0))
  }

  test("simhash drops token-free docs whatever the whitespace flavor") {
    import spark.implicits._
    // SQL trim strips spaces only — a tabs/newlines doc must STILL be
    // dropped (token filter), matching the vocab-join twin and the oracle
    val docs = Seq((0L, docA), (1L, "\t\n"), (2L, "   "), (3L, ""))
      .toDF("doc_id", "text")
    val kept = Dedup.simhash(docs).select("doc_id").as[Long].collect().toSeq
    assert(kept === Seq(0L))
  }

  test("substrDupStats: positions covered by cross-doc 5-grams, with multiplicity") {
    import spark.implicits._
    val docs = Seq(
      // doc 0 and 1 share their first five tokens (one 5-gram each)
      (0L, "a b c d e x1 x2 x3"),           // 4 positions, 1 flagged
      (1L, "a b c d e y1 y2 y3"),           // 4 positions, 1 flagged
      // doc 2 repeats ITS OWN 5-gram twice but shares nothing → 0 flagged
      (2L, "p q r s t p q r s t"),          // 6 positions, 0 flagged
      (3L, "u v w")                          // too short → absent
    ).toDF("doc_id", "text")
    val got = Dedup.substrDupStats(docs).as[(Long, Long, Long, Double)]
      .collect().toSeq
    assert(got === Seq(
      (0L, 4L, 1L, 0.25), (1L, 4L, 1L, 0.25), (2L, 6L, 0L, 0.0)))
  }

  test("normDedup collapses casing/whitespace variants, keeps min id") {
    import spark.implicits._
    val docs = Seq(
      (0L, "Hello  World"),
      (1L, "hello world"),        // case + double-space variant of 0
      (2L, "\thello   WORLD \n"), // whitespace-flavored variant of 0
      (3L, "different entirely")
    ).toDF("doc_id", "text")
    val got = Dedup.normDedup(docs).as[(Long, Long)].collect().toSeq
    assert(got === Seq((0L, 3L), (3L, 1L)))
  }

  test("deconReport counts leaky train docs and shared shingles per eval doc") {
    import spark.implicits._
    val evalDocs = Seq(
      (100L, "w1 w2 w3 w4 w5 unique eval tail one"),
      (200L, "c1 c2 c3 c4 c5 other eval content here")
    ).toDF("doc_id", "text")
    val train = Seq(
      (1L, "w1 w2 w3 w4 w5 train junk after"),   // leaks eval 100's 5-gram
      (2L, "pre w1 w2 w3 w4 w5 more stuff"),     // leaks the same 5-gram
      (3L, "clean totally unrelated train words here today")
    ).toDF("doc_id", "text")
    val got = Dedup.deconReport(train, evalDocs)
      .as[(Long, Long, Long)].collect().toSeq
    // eval 100: 2 leaky train docs, 1 shared shingle; eval 200: clean
    assert(got === Seq((100L, 2L, 1L), (200L, 0L, 0L)))
  }

  test("deconOverlap: exact micro-fraction per train doc, consistent with decontaminate") {
    import spark.implicits._
    val evalDocs = Seq((100L, "a b c d e f")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "a b c d e x y z w q"),  // 6 shingles, 1 shared ("a b c d e")
      (2L, "p q r s t u v"),        // 3 shingles, clean
      (3L, "a b c d e f"),          // identical to the eval doc: 2/2
      (4L, "a b")                   // too short to shingle: absent
    ).toDF("doc_id", "text")
    val got = Dedup.deconOverlap(train, evalDocs)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 6L, 1L, 166666L), (2L, 3L, 0L, 0L), (3L, 2L, 2L, 1000000L)))
    // graduated verdicts must agree with the binary one: decontaminate
    // keeps exactly the docs deconOverlap scores 0 (plus shingle-less)
    val kept = Dedup.decontaminate(train, evalDocs).as[Long].collect().toSet
    val zero = got.filter(_._3 == 0L).map(_._1).toSet + 4L
    assert(kept === zero)
  }

  test("snapshotDiff: added/removed/changed classified, unchanged absent") {
    import spark.implicits._
    val old = Seq(
      (1L, "same text"), (2L, "will change"), (3L, "will vanish")
    ).toDF("doc_id", "text")
    val neu = Seq(
      (1L, "same text"), (2L, "changed now"), (4L, "brand new")
    ).toDF("doc_id", "text")
    val got = Dedup.snapshotDiff(old, neu)
      .as[(Long, String)].collect().toSeq
    assert(got === Seq((2L, "changed"), (3L, "removed"), (4L, "added")))
  }

  test("snapshotDiff gate entry: statuses follow the %10 construction") {
    import spark.implicits._
    val got = Dedup.snapshotDiffDocs(spark, "/root/testdata/sf0.001")
      .as[(Long, String)].collect().toSeq
    assert(got.nonEmpty)
    got.foreach { case (id, st) =>
      val expected = if (id % 10 == 7) "added"
        else if (id % 10 == 9) "removed"
        else if (id % 10 == 3) "changed"
        else fail(s"doc $id (% 10 == ${id % 10}) should be unchanged, got $st")
      assert(st === expected, s"doc $id")
    }
    // every %10∈{3,7,9} doc appears exactly once
    val n = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
      .filter(org.apache.spark.sql.functions.expr("doc_id % 10 IN (3, 7, 9)"))
      .count()
    assert(got.length.toLong === n)
  }

  test("substrDupStats matches a naive sliding-window reference on real docs") {
    val real = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val raw = real.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+"))
      .filter(_._2.length >= 5)
      .map { case (id, w) => id -> w.sliding(5).map(_.mkString(" ")).toVector }
    val docsPerShingle = raw
      .flatMap { case (id, ss) => ss.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (s, xs) => s -> xs.length }
    val expected = raw.map { case (id, ss) =>
      val dup = ss.count(docsPerShingle(_) >= 2).toLong
      id -> ((ss.size.toLong, dup,
        BigDecimal(dup.toDouble / ss.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toMap
    val got = Dedup.substrDupStats(real).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got === expected)
  }

  test("spanRemove cuts cross-doc 5-gram spans and reassembles the doc") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c d e f g h"),        // shares "a b c d e" with doc 1
      (1L, "x y a b c d e z w"),
      (2L, "p q r"),                  // < k tokens: passes through whole
      (3L, "m n o p1 q1 r1"),         // identical to doc 4: fully covered
      (4L, "m n o p1 q1 r1"),
      (5L, "solo words nobody else repeats anywhere at all")
    ).toDF("doc_id", "text")
    val got = Dedup.spanRemove(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(0L) === ((8L, 3L, "f g h")))
    assert(got(1L) === ((9L, 4L, "x y z w")))
    assert(got(2L) === ((3L, 3L, "p q r")))
    assert(got(3L) === ((6L, 0L, "")))
    assert(got(4L) === ((6L, 0L, "")))
    assert(got(5L) === ((8L, 8L, "solo words nobody else repeats anywhere at all")))
  }

  test("spanRemove is consistent with substrDupStats position flags") {
    // the removal op and the measurement op share the flagging rule, so
    // n_total - n_kept must be >= dup_positions-covered tokens and a doc
    // with zero dup positions must come back verbatim (modulo whitespace
    // collapse)
    val real = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val stats = Dedup.substrDupStats(real).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val removed = Dedup.spanRemove(real).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val texts = real.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    removed.foreach { case (id, (total, kept)) =>
      val dupPos = stats.getOrElse(id, 0L)
      if (dupPos == 0L) assert(kept === total, s"doc $id lost tokens with no dup spans")
      else assert(kept < total, s"doc $id has flagged spans but kept everything")
    }
    // every clean doc with no cuts equals the whitespace-collapsed original
    val cleanTexts = Dedup.spanRemove(real).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    cleanTexts.foreach { case (id, clean) =>
      if (stats.getOrElse(id, 0L) == 0L)
        assert(clean === texts(id).trim.split("\\s+").mkString(" "))
    }
  }

  test("toRational recovers exact small-denominator thresholds") {
    assert(Dedup.toRational(0.8) === ((4L, 5L)))
    assert(Dedup.toRational(0.85) === ((17L, 20L)))
    assert(Dedup.toRational(0.9) === ((9L, 10L)))
    assert(Dedup.toRational(1.0) === ((1L, 1L)))
    assert(Dedup.toRational(2.0 / 3.0) === ((2L, 3L)))
    intercept[IllegalArgumentException](Dedup.toRational(0.0))
    intercept[IllegalArgumentException](Dedup.toRational(1.5))
  }

  test("deprecated Double-threshold overloads agree with the rational forms") {
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    // the shim converts 0.9 → 9/10, so results must be IDENTICAL rows
    val viaDouble = (Dedup.clusters(docs, 0.9): @annotation.nowarn("cat=deprecation"))
      .collect().toSeq
    val viaRational = Dedup.clusters(docs, 9L, 10L).collect().toSeq
    assert(viaDouble === viaRational)
    val sDouble = (Dedup.survivors(docs, 0.9): @annotation.nowarn("cat=deprecation"))
      .count()
    assert(sDouble === Dedup.survivors(docs, 9L, 10L).count())
  }

  test("splitLeakAudit: exactly the cross-split subset of the jaccard pairs, labels consistent") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val (w, n) = (Seq(0.8, 0.1, 0.1), Seq("train", "val", "test"))
    val audit = Dedup.splitLeakAudit(docs, w, n).collect()
    assert(audit.nonEmpty) // doc-keyed splits leak near-dups by design
    // every audited pair is cross-split, and both labels match the
    // assignment gate's labels for those ids
    val assign = Sampling.splitAssign(docs.select("doc_id"), "doc_id", w, n)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    audit.foreach { r =>
      assert(r.getString(2) !== r.getString(3))
      assert(assign(r.getLong(0)) === r.getString(2))
      assert(assign(r.getLong(1)) === r.getString(3))
    }
    // and it is exactly the cross-split SUBSET of the same screen the
    // audit reads (the EXACT prefix screen at 4/5 — referencing the
    // adaptive screen here would couple the assertion to a recall-lossy
    // cap that merely happens to miss nothing on this fixture)
    val pairs = Dedup.jaccardPairsPrefix(docs, 4L, 5L).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => assign(a) != assign(b) }.toSet
    assert(audit.map(r => (r.getLong(0), r.getLong(1))).toSet === pairs)
    // the leakage-safe GROUPED split keys on source: same-source pairs
    // (where near-dups concentrate) can never straddle it
    val bySource = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val grouped = Dedup.splitLeakAudit(docs, w, n, salt = "gsplit:")
    // relabel via source-keyed assignment to check the audit would
    // shrink: every same-source pair drops out of the grouped audit
    val groupedAssign = Sampling.splitAssign(
        docs.select("doc_id", "source"), "source", w, n, salt = "gsplit:")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    audit.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      if (bySource(a) == bySource(b))
        assert(groupedAssign(a) === groupedAssign(b),
          s"grouped split must co-locate same-source pair ($a, $b)")
    }
    grouped.count() // plan sanity: the salt-parameterized form executes
  }

  test("splitLeakStats: doc keying matches the audit; source keying co-locates same-source pairs") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val (w, n) = (Seq(0.8, 0.1, 0.1), Seq("train", "val", "test"))
    val stats = Dedup.splitLeakStats(docs, w, n).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (nPairsDoc, leakedDoc, microDoc) = stats("doc")
    val (nPairsSrc, leakedSrc, microSrc) = stats("source")
    assert(nPairsDoc === nPairsSrc) // same landed pair table under both keyings
    // the doc-keyed leak count IS the audit's work-list length (the
    // audit reads the same pair table at the same threshold)
    assert(leakedDoc === Dedup.splitLeakAudit(docs, w, n).count())
    assert(microDoc === leakedDoc * 1000000L / nPairsDoc)
    // the grouped keying can only leak CROSS-source near-dup pairs
    val bySource = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val crossSourcePairs = Dedup.jaccardPairsPrefix(docs, 4L, 5L).collect()
      .count(r => bySource(r.getLong(0)) != bySource(r.getLong(1)))
    assert(leakedSrc <= crossSourcePairs)
    assert(microSrc === leakedSrc * 1000000L / nPairsSrc)
  }

  test("grid-verify results are invariant under spark.graft.dedup.gridB") {
    // B partitions the work, never the answer: any cell count must land
    // the identical pair set (the conf exists purely so per-cell memory
    // can be sized to the corpus — Dedup.gridB's scaladoc).
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val base = norm(Dedup.jaccardPairsPrefix(docs, 4L, 5L))
    assert(base.nonEmpty)
    for (b <- Seq("1", "3", "16")) {
      spark.conf.set("spark.graft.dedup.gridB", b)
      try assert(norm(Dedup.jaccardPairsPrefix(docs, 4L, 5L)) === base, s"gridB=$b")
      finally spark.conf.unset("spark.graft.dedup.gridB")
    }
  }

  test("derivedGridB: floor 8, measured calibration points, pow2, 4096 cap") {
    // floor: small corpora (every fixture SF) keep the r17 default
    assert(Dedup.derivedGridB(0L) === 8)
    assert(Dedup.derivedGridB(1000000L) === 8)
    // measured calibration (round 18, plan-stats estimates): sf0.1-corpus
    // signature-table estimates per side are 226 501 B at 1×,
    // 4 460 573 at 20×, 11 168 220 at 50× — the derived value must
    // land 8, 8, 16 (the measured-optimal band of the 50× A/B)
    assert(Dedup.derivedGridB(2 * 226501L) === 8)
    assert(Dedup.derivedGridB(2 * 4460573L) === 8)
    assert(Dedup.derivedGridB(2 * 11168220L) === 16)
    // powers of two, monotone, linear growth: 100× ≈ 2× the 50× grid
    assert(Dedup.derivedGridB(2 * 22336440L) === 32)
    // clamp at the conf's own upper bound
    assert(Dedup.derivedGridB(Long.MaxValue / 4) === 4096)
  }

  test("gridB: missing plan stats (RDD lineage) fall back to B=8, never wrap") {
    // An RDD-scan lineage reports defaultSizeInBytes (Long.MaxValue) —
    // before the sentinel guard, summing two of those wrapped .toLong
    // negative and silently floored B in exactly the huge-corpus regime
    // the derivation exists for (r18 verdict #4 / ADVICE). The guard
    // must detect the garbage estimate and take the floor-8 default
    // DELIBERATELY (warned), not accidentally.
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("sig", ArrayType(LongType))))
    val rdd = spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(1L, Seq(1L, 2L)),
      org.apache.spark.sql.Row(2L, Seq(2L, 3L))))
    val rddDf = spark.createDataFrame(rdd, schema)
    val est = rddDf.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est > Dedup.GridEstSaneCeiling,
      s"fixture no longer reproduces the missing-stats regime (est $est)")
    assert(Dedup.gridB(spark, rddDf, rddDf) === 8)
    // parquet-backed inputs keep deriving normally through the same path
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
      .select(org.apache.spark.sql.functions.col("doc_id"))
    assert(Dedup.gridB(spark, docs, docs) === 8) // tiny estimate → floor
  }

  test("an undersized grid cell fails loudly, naming the gridB dial") {
    // The cell hashmaps are unspillable on-heap state; past the
    // per-cell byte budget the task must die with the remedy in the
    // message, never as an opaque executor OOM.
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    spark.conf.set("spark.graft.dedup.maxCellSigBytes", "64")
    try {
      val e = intercept[Exception] {
        Dedup.jaccardPairsPrefix(docs, 4L, 5L).collect()
      }
      assert(e.toString.contains("spark.graft.dedup.gridB") ||
        e.getCause != null && e.getCause.toString.contains("spark.graft.dedup.gridB"),
        s"unexpected failure: $e")
    } finally spark.conf.unset("spark.graft.dedup.maxCellSigBytes")
  }
}
