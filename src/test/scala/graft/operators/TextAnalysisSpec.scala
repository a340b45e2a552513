package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** TextAnalysis operators run on a crafted `documents` parquet table (the
  * operators take a table dir, mirroring the driver contract).
  */
class TextAnalysisSpec extends AnyFunSuite with SparkTestSession {

  private lazy val dir: String = {
    import spark.implicits._
    val d = graft.Scratch.dir("graft-text")
    Seq(
      (0L, "the cat and the dog, the end."),
      (1L, "le chat et le chien une fois"),
      (2L, "zzz qqq xxx"),
      (3L, "der Hund und die Katze nicht ein")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("repetition: hand-computed duplicate fractions and top-bigram run") {
    import spark.implicits._
    val d = graft.Scratch.dir("graft-rep")
    Seq(
      (0L, "a b a b a b"), // 6 words {a,b}; bigrams: ab,ba,ab,ba,ab
      (1L, "all words here differ"),
      (2L, "solo") // < 2 words → filtered, like the oracle
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = TextAnalysis.repetition(spark, d).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(0L, 1L))
    val r0 = rows(0)
    assert(r0.getInt(1) === 6)
    assert(r0.getDouble(2) === 0.6667) // 1 - 2/6
    assert(r0.getDouble(3) === 0.6)    // 1 - 2/5
    assert(r0.getLong(4) === 3L)       // "a b" occurs 3×
    val r1 = rows(1)
    assert(r1.getDouble(2) === 0.0 && r1.getDouble(3) === 0.0 && r1.getLong(4) === 1L)
  }

  test("textStats: hand-computed counts for a known doc") {
    val r = TextAnalysis.textStats(spark, dir).collect().head
    // "the cat and the dog, the end." → 7 tokens, 5 distinct ("the","cat",
    // "and","dog,","end." → distinct tokens incl. punct variants)
    assert(r.getLong(0) === 0L)
    assert(r.getInt(1) === 7)             // n_tokens
    assert(r.getInt(2) === 5)             // n_distinct_tokens
    assert(r.getInt(3) === 9)             // subwords: 7 words + ',' + '.'... ("dog" "," "the" "end" ".")
    assert(r.getInt(4) === "the cat and the dog, the end.".length)
    assert(r.getInt(5) === 2)             // ',' and '.'
  }

  test("quality score is the documented mean of three ratios") {
    val r = TextAnalysis.qualityScore(spark, dir)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val text = "the cat and the dog, the end."
    val toks = text.trim.split("\\s+")
    val expect = (toks.distinct.length.toDouble / toks.length
      + text.count(_.isLetter).toDouble / text.length
      + toks.count(_.length >= 3).toDouble / toks.length) / 3.0
    assert(math.abs(r(0L) - expect) < 5e-5)
  }

  test("language id votes by marker tokens") {
    val got = TextAnalysis.langId(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(0L -> "en", 1L -> "fr", 2L -> "und", 3L -> "de"))
  }

  test("winnowing: shared substrings share fingerprints; density bounded") {
    import spark.implicits._
    val common = "the winnowing algorithm selects minima"
    val docs = Seq(
      (0L, s"prefix AAA $common suffix BBB"),
      (1L, s"totally other start $common and another end"),
      (2L, "nothing in common with the rest zzz qqq")
    ).toDF("doc_id", "text")
    val fps = TextAnalysis.winnow(docs, k = 5, w = 4)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    // guarantee: a shared substring of length >= w+k-1 (= 8) yields at
    // least one shared fingerprint
    assert((fps(0L) intersect fps(1L)).nonEmpty)
    // density: far fewer fingerprints than character positions
    assert(fps(0L).size < docs.filter($"doc_id" === 0L).head.getString(1).length / 2)
  }

  test("redactPii: masks every class, counts them, leaves clean text alone") {
    import spark.implicits._
    val df = Seq(
      (0L, "mail a.b+c@foo-bar.org and x@y.io or call 555-123-4567"),
      (1L, "host 192.168.0.1 and 10.0.42.7 up"),
      (2L, "no pii here at all")
    ).toDF("doc_id", "t")
    val out = TextAnalysis.redactPii(df, "t")
      .select("doc_id", "n_emails", "n_phones", "n_ips", "redacted")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getInt(1) === 2 && out(0L).getInt(2) === 1 && out(0L).getInt(3) === 0)
    assert(out(0L).getString(4) === "mail <EMAIL> and <EMAIL> or call <PHONE>")
    assert(out(1L).getInt(3) === 2)
    assert(out(1L).getString(4) === "host <IP> and <IP> up")
    assert(out(2L).getString(4) === "no pii here at all")
  }

  test("piiRedactDocs: each doc carries exactly its synthesized PII classes") {
    val rows = TextAnalysis.piiRedactDocs(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expected = r.getLong(0) % 3 match {
        case 0 => (1, 1, 0) // email + phone overlay
        case 1 => (0, 0, 1) // ip overlay
        case _ => (0, 0, 0) // untouched (corpus itself is PII-free)
      }
      assert((r.getInt(1), r.getInt(2), r.getInt(3)) === expected, s"doc ${r.getLong(0)}")
    }
  }

  test("docChunks: stride windows cover every token; digests match a recount") {
    import spark.implicits._
    def md5_60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .take(8).map(b => f"$b%02x").mkString.take(15), 16)
    val words = (1 to 81).map(i => s"w$i")
    val df = Seq((0L, words.mkString(" ")), (1L, "a b c")).toDF("doc_id", "text")
    val out = TextAnalysis.docChunks(df, chunkTokens = 8, stride = 6).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getLong(3))).toMap
    // 81 tokens, C=8, S=6 → 1 + ceil(73/6) = 14 chunks; last starts at 78 → 3 tokens
    assert(out.keys.count(_._1 == 0L) === 14)
    (0 until 14).foreach { i =>
      val expectTokens = words.slice(i * 6, i * 6 + 8)
      assert(out((0L, i)) === ((expectTokens.length, md5_60(expectTokens.mkString(" ")))),
        s"chunk $i")
    }
    // short doc: one chunk, whole doc
    assert(out((1L, 0)) === ((3, md5_60("a b c"))))
    assert(out.keys.count(_._1 == 1L) === 1)
  }

  test("ngramLm matches a naive in-memory recount at sf0.001") {
    val realDir = "/root/testdata/sf0.001"
    val bigram = scala.collection.mutable.Map.empty[(String, String, String), Long]
    val prefix = scala.collection.mutable.Map.empty[(String, String), Long]
    graft.Engine.Tables(spark, realDir).documents
      .select("lang", "text").collect().foreach { r =>
        val lang = r.getString(0)
        val w = r.getString(1).trim.split("\\s+")
        if (w.length >= 2) w.sliding(2).foreach { pair =>
          val (a, b) = (pair(0), pair(1))
          bigram((lang, a, b)) = bigram.getOrElse((lang, a, b), 0L) + 1
          prefix((lang, a)) = prefix.getOrElse((lang, a), 0L) + 1
        }
      }
    val expected = bigram.groupBy(_._1._1).flatMap { case (lang, m) =>
      m.toSeq.map { case ((_, a, b), n) => (a, b, n) }
        .sortBy { case (a, b, n) => (-n, a, b) }.take(20).zipWithIndex
        .map { case ((a, b, n), i) => (lang, i + 1, a, b, n, prefix((lang, a))) }
    }.toSet
    val got = TextAnalysis.ngramLm(spark, realDir).collect().map(r =>
      (r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got === expected)
  }

  test("fingerprint (md5_60) equals the independent MD5 implementation") {
    val rows = TextAnalysis.fingerprint(spark, dir).collect()
    val byId = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def md5_60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .take(8).map(b => f"$b%02x").mkString.take(15), 16)
    val text = "the cat and the dog, the end."
    assert(byId(0L)._1 === md5_60(text))
    val bag = text.trim.split("\\s+").sorted.mkString(" ")
    assert(byId(0L)._2 === md5_60(bag))
  }

  test("filterCascade: first failing rule wins, in cascade order") {
    import spark.implicits._
    val d = graft.Scratch.dir("graft-cascade")
    Seq(
      (0L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"),
      (1L, "tiny doc"),                                              // too_short
      (2L, "a1 b2 c3 d4 e5 f6 g7 h8 i9 j0 k1 l2 m3 n4"),             // low_alpha
      (3L, "word word word word word word word word word word word word word word"), // high_dup
      (4L, "11 11 11 11 11 11 11 11 11 11 11 11 11 11")              // fails alpha AND dup -> low_alpha first
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = TextAnalysis.filterCascade(spark, d).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(got === Map(0L -> "keep", 1L -> "too_short", 2L -> "low_alpha",
      3L -> "high_dup", 4L -> "low_alpha"))
  }

  test("vocabCoverage matches an in-memory count/sort/cumsum reference") {
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val got = TextAnalysis.vocabCoverage(docs, k = 50).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val counts = docs.select("text").collect().map(_.getString(0))
      .flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val total = counts.values.sum.toDouble
    var cum = 0L
    val ref = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(50)
      .zipWithIndex.map { case ((t, c), i) =>
        cum += c
        (i + 1, t, c,
          BigDecimal(cum / total).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    assert(got.toSeq === ref)
  }

  test("novelty: copies score 0, unique docs score 1, overlap in between") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),   // all shingles unique → 1.0
      (2L, "one two three four five"),          // exact copy of 3 → 0.0
      (3L, "one two three four five"),
      // shares its first 3-gram with 5, rest unique
      (4L, "red green blue cyan magenta"),
      (5L, "red green blue yellow violet")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.novelty(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) === ((3L, 3L, 1.0)))
    assert(got(2L) === ((3L, 0L, 0.0)))
    assert(got(3L) === ((3L, 0L, 0.0)))
    // docs 4/5: 3 shingles each, 'red green blue' shared → 2/3 unique
    assert(got(4L)._3 === 0.666667)
    assert(got(5L)._3 === 0.666667)
    // naive cross-check on real docs: string-level shingle df
    val real = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val raw = real.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+"))
      .filter(_._2.length >= 3)
      .map { case (id, w) =>
        id -> w.sliding(3).map(_.mkString(" ")).toSet
      }
    val df = raw.flatMap(_._2).groupBy(identity).map { case (s, xs) => s -> xs.length }
    val expected = raw.map { case (id, ss) =>
      val uniq = ss.count(df(_) == 1)
      id -> ((ss.size.toLong, uniq.toLong,
        BigDecimal(uniq.toDouble / ss.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toMap
    val gotReal = TextAnalysis.novelty(real).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(gotReal === expected)
  }

  test("docPerplexity matches an in-memory unigram-LM reference") {
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def round3(x: Double): Double =
      BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    val real = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val docs = real.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").filter(_.nonEmpty))
    val corpus = docs.flatMap(_._2)
    val cnt = corpus.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val nv = (corpus.length + cnt.size).toDouble
    val expected = docs.map { case (id, ws) =>
      val tf = ws.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
      val micro = tf.map { case (t, f) =>
        BigDecimal(round6(f * math.log(nv / (cnt(t) + 1.0))) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      id -> ((ws.length.toLong, micro,
        round3(math.exp(micro / (1e6 * ws.length)))))
    }.toMap
    val got = TextAnalysis.docPerplexity(real).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got === expected)
  }

  test("docPerplexity: common-token docs score lower than hapax docs") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "the the the the the the the the"), // commonest token only
      (2L, "the the the the qq ww ee rr"),     // half common, half hapax
      (3L, "aa bb cc dd ff gg hh ii")          // hapaxes only
    ).toDF("doc_id", "text")
    val ppl = TextAnalysis.docPerplexity(crafted).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(ppl(1L) < ppl(2L) && ppl(2L) < ppl(3L))
  }

  test("bpePairCounts: hand-computed pair weights") {
    import spark.implicits._
    // words: "ab" ×2, "abc" ×1 → (a,b) = 2+1 = 3, (b,c) = 1
    val docs = Seq((0L, "ab abc"), (1L, "ab x")).toDF("doc_id", "text")
    val got = TextAnalysis.bpePairCounts(docs)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got === Seq((1, "a", "b", 3L), (2, "b", "c", 1L)))
  }

  test("bpePairCounts matches an in-memory reference on real docs") {
    val real = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val words = real.select("text").collect().map(_.getString(0))
      .flatMap(_.trim.split("\\s+")).filter(_.length >= 2)
      .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    val pairs = words.toSeq.flatMap { case (w, c) =>
      w.sliding(2).map(p => (p.substring(0, 1), p.substring(1)) -> c)
    }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    val expected = pairs.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }
      .take(100).zipWithIndex
      .map { case (((a, b), c), i) => (i + 1, a, b, c) }
    val got = TextAnalysis.bpePairCounts(real).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got === expected)
  }

  test("bpeTrain matches a sequential in-memory BPE trainer") {
    def applyMerge(s: List[String], a: String, b: String): List[String] = {
      val acc = scala.collection.mutable.ListBuffer.empty[String]
      for (x <- s) {
        if (acc.nonEmpty && acc.last == a && x == b) acc(acc.size - 1) = a + b
        else acc += x
      }
      acc.toList
    }
    val real = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    var words = real.select("text").collect().map(_.getString(0))
      .flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).toSeq
      .map { case (w, xs) => w.split("").toList -> xs.length.toLong }
    val expected = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    for (_ <- 1 to 8) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      words.foreach { case (syms, c) =>
        syms.sliding(2).foreach {
          case List(a, b) => counts((a, b)) += c
          case _ =>
        }
      }
      if (counts.nonEmpty) {
        val ((a, b), cnt) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        expected += ((a, b, cnt))
        words = words.map { case (syms, c) => applyMerge(syms, a, b) -> c }
      }
    }
    val got = TextAnalysis.bpeTrain(real, nMerges = 8)
    assert(got === expected.toSeq)
    // first merge must be the top-1 of the gated single-iteration query
    val top = TextAnalysis.bpePairCounts(real).head()
    assert((top.getString(1), top.getString(2), top.getLong(3)) === got.head)
  }

  test("bpeEncode: trained merges segment docs like an in-memory encoder") {
    val real = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val merges = TextAnalysis.bpeTrain(real, nMerges = 6).map(m => (m._1, m._2))
    assert(merges.nonEmpty)
    def applyMerge(syms: Vector[String], a: String, b: String): Vector[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, s) =>
        if (acc.nonEmpty && acc.last == a && s == b) acc.init :+ (a + b)
        else acc :+ s
      }
    def encodeWord(w: String): Int =
      merges.foldLeft(w.split("").toVector) {
        case (syms, (a, b)) => applyMerge(syms, a, b)
      }.length
    val texts = real.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = texts.map { case (id, text) =>
      val words = text.trim.split("\\s+").filter(_.nonEmpty)
      id -> ((words.length.toLong, words.map(encodeWord(_).toLong).sum))
    }
    val got = TextAnalysis.bpeEncode(real, merges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expected)
    // merges genuinely compress: strictly fewer symbols than characters
    val chars = texts.map { case (id, t) =>
      id -> t.trim.split("\\s+").map(_.length.toLong).sum }
    assert(got.exists { case (id, (_, bpe)) => bpe < chars(id) })
    // and never below one token per word
    got.foreach { case (id, (nw, bpe)) => assert(bpe >= nw, s"doc $id") }
  }

  test("bpeFertility: per-language rollup of the encode table, exact micro-rate") {
    val real = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val enc = TextAnalysis.bpeEncode(real, TextAnalysis.PinnedBpeMerges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val langs = real.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = enc.toSeq.groupBy { case (id, _) => langs(id) }
      .map { case (lang, xs) =>
        val (nw, nb) = (xs.map(_._2._1).sum, xs.map(_._2._2).sum)
        lang -> ((xs.size.toLong, nw, nb, nb * 1000000L / nw))
      }
    val got = TextAnalysis.bpeFertility(real, TextAnalysis.PinnedBpeMerges)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === expected)
    // fertility must be >= 1 token per word for every language
    got.values.foreach { case (_, _, _, f) => assert(f >= 1000000L) }
  }

  test("unigramEncode matches an in-memory Viterbi over the fixture") {
    def viterbi(word: String): (Long, Long) = {
      // dp over (cost_micro, n_pieces), lexicographic min — the unpacked
      // form of the operator's cost*1024+n integers
      val n = word.length
      val dp = Array.fill[(Long, Long)](n + 1)((Long.MaxValue, Long.MaxValue))
      dp(0) = (0L, 0L)
      for (i <- 1 to n) {
        val ch = word.charAt(i - 1)
        val charCost = if (ch >= 'a' && ch <= 'z') TextAnalysis.UnigramCharCost
          else TextAnalysis.UnigramUnkCost
        var best = (dp(i - 1)._1 + charCost, dp(i - 1)._2 + 1)
        for (l <- 2 to 4; if i >= l) {
          TextAnalysis.UnigramPieces.get(word.substring(i - l, i)).foreach { c =>
            val cand = (dp(i - l)._1 + c, dp(i - l)._2 + 1)
            if (implicitly[Ordering[(Long, Long)]].lt(cand, best)) best = cand
          }
        }
        dp(i) = best
      }
      dp(n)
    }
    val real = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val got = TextAnalysis.unigramEncode(real).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val docs = real.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    docs.foreach { case (id, text) =>
      val ws = text.trim.split("\\s+").filter(_.nonEmpty)
      val segs = ws.map(viterbi)
      val expect = (ws.length.toLong, segs.map(_._2).sum, segs.map(_._1).sum)
      assert(got(id) === expect, s"doc $id")
    }
    // piece preference: "hash" must cost one 7.0-piece, not h+ash or singles
    assert(viterbi("hash") === (7000000L, 1L))
    assert(viterbi("join") === (7000000L, 1L))
    // unknown chars fall back to the unk cost, never fail
    assert(viterbi("x9!") === (TextAnalysis.UnigramCharCost + 2 * TextAnalysis.UnigramUnkCost, 3L))
  }

  test("unigramEncode: overlong word fails loudly, naming the bound") {
    import spark.implicits._
    val docs = Seq((1L, ("a" * (TextAnalysis.UnigramMaxWordLen + 1))))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      TextAnalysis.unigramEncode(docs).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("UnigramMaxWordLen"), msg)
  }

  test("wordpieceEncode matches an in-memory greedy scanner on the fixture") {
    def greedy(word: String): (Long, Long) = {
      // (n_pieces, n_unk) of the longest-match-first scan with per-char
      // backoff — the unpacked form of the operator's state integer
      var pos = 0
      var pieces = 0L
      var unk = 0L
      while (pos < word.length) {
        val inv = if (pos == 0) TextAnalysis.WordpieceInitial
          else TextAnalysis.WordpieceCont
        val l = (4 to 2 by -1).find { l =>
          pos + l <= word.length &&
            inv.getOrElse(l, Nil).contains(word.substring(pos, pos + l))
        }.getOrElse(1)
        if (l == 1) {
          val c = word.charAt(pos)
          if (c < 'a' || c > 'z') unk += 1
        }
        pieces += 1
        pos += l
      }
      (pieces, unk)
    }
    val real = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val got = TextAnalysis.wordpieceEncode(real).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val docs = real.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    docs.foreach { case (id, text) =>
      val ws = text.trim.split("\\s+").filter(_.nonEmpty)
      val segs = ws.map(greedy)
      val expect = (ws.length.toLong, segs.map(_._1).sum, segs.map(_._2).sum)
      assert(got(id) === expect, s"doc $id")
    }
    // longest-match-first: "join" is ONE initial piece, not jo+in
    assert(greedy("join") === (1L, 0L))
    // "joins" = join + ##s (single-char continuation backoff)
    assert(greedy("joins") === (2L, 0L))
    // continuation inventory differs from initial: "rower" = row + ##er,
    // but "er" alone is an INITIAL piece too — one piece either way
    assert(greedy("rower") === (2L, 0L))
    assert(greedy("er") === (1L, 0L))
    // non-alpha chars count as per-char UNKs, never void the word
    assert(greedy("a9b") === (3L, 1L))
  }

  test("wordpieceEncode: overlong word fails loudly, naming the bound") {
    import spark.implicits._
    val docs = Seq((1L, ("a" * (TextAnalysis.WordpieceMaxWordLen + 1))))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      TextAnalysis.wordpieceEncode(docs).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("WordpieceMaxWordLen"), msg)
  }

  test("tokenizerCompare is column-consistent with the three family outputs") {
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val cmp = TextAnalysis.tokenizerCompare(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    val bpe = TextAnalysis.bpeEncode(docs, TextAnalysis.PinnedBpeMerges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val uni = TextAnalysis.unigramEncode(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val wp = TextAnalysis.wordpieceEncode(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cmp.keySet === bpe.keySet)
    cmp.foreach { case (id, (nw, nb, nu, nwp, bf)) =>
      assert((nw, nb) === bpe(id), s"doc $id bpe")
      assert(nu === uni(id), s"doc $id unigram")
      assert(nwp === wp(id), s"doc $id wordpiece")
      assert(bf === nb * 1000000L / nw, s"doc $id fertility")
      // every family segments into at least one piece per word
      assert(nb >= nw && nu >= nw && nwp >= nw, s"doc $id: fewer pieces than words")
    }
  }

  test("PinnedBpeMerges is exactly what bpeTrain learns at sf0.01") {
    // provenance pin for the gated bpe_encode entry: the frozen literals
    // must stay the committed trainer output, or the gate is testing a
    // tokenizer nobody trained
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.01").documents
    val trained = TextAnalysis.bpeTrain(docs, nMerges = 16).map(m => (m._1, m._2))
    assert(trained === TextAnalysis.PinnedBpeMerges)
  }

  test("fimTransform: transformed docs reassemble to the original text") {
    val real = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val texts = real.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextAnalysis.fimTransform(real).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val Fim = "(?s)<PRE>(.*)<SUF>(.*)<MID>(.*)".r
    var transformed = 0
    got.foreach { case (id, t, fim) =>
      if (t == 1) {
        transformed += 1
        fim match {
          case Fim(pre, suf, mid) =>
            assert(pre + mid + suf === texts(id), s"doc $id does not reassemble")
          case _ => fail(s"doc $id flagged transformed but has no FIM markers")
        }
      } else assert(fim === texts(id), s"untouched doc $id was altered")
    }
    // the md5 gate really splits the corpus near the configured 50% rate
    assert(transformed > got.length / 3 && transformed < 2 * got.length / 3)
  }

  test("fimTransform is a pure function of the data across partitionings") {
    val real = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val a = TextAnalysis.fimTransform(real).collect().map(_.toSeq).toSeq
    val b = TextAnalysis.fimTransform(real.repartition(13)).collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("t5Spans matches an independent reference; splicing reconstructs") {
    val real = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    def md5_60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def ref(docId: Long, text: String): (Int, String, String) = {
      val w = text.trim.split("\\s+")
      val inp = collection.mutable.ArrayBuffer.empty[String]
      val tgt = collection.mutable.ArrayBuffer.empty[String]
      var k = 0; var prev = false
      for (i <- 1 to w.length) {
        val noisy = md5_60(s"t5:$docId:$i") % 1000000L < 150000L
        if (noisy && prev) tgt += w(i - 1)
        else if (noisy) {
          inp += s"<extra_id_$k>"; tgt += s"<extra_id_$k>"; tgt += w(i - 1)
          k += 1
        } else inp += w(i - 1)
        prev = noisy
      }
      tgt += s"<extra_id_$k>"
      (k, inp.mkString(" "), tgt.mkString(" "))
    }
    val texts = real.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextAnalysis.t5Spans(real).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2), r.getString(3))))
      .toMap
    texts.foreach { case (id, text) =>
      assert(got(id) === ref(id, text), s"doc $id mismatch")
    }
    // some docs genuinely corrupted at the 15% rate
    assert(got.values.count(_._1 > 0) > got.size / 2)
    // splice invariant: substituting each input sentinel with its target
    // span reproduces the whitespace-collapsed original
    val Sentinel = "<extra_id_(\\d+)>".r
    got.foreach { case (id, (k, inp, tgt)) =>
      // parse target into span_id -> tokens
      val spans = collection.mutable.Map.empty[Int, Vector[String]]
      var cur = -1
      tgt.split(" ").foreach {
        case Sentinel(n) => cur = n.toInt; spans(cur) = Vector.empty
        case tok => spans(cur) = spans(cur) :+ tok
      }
      assert(spans.keySet === (0 to k).toSet)
      assert(spans(k).isEmpty, "closing sentinel must end the target")
      val rebuilt = inp.split(" ").filter(_.nonEmpty).flatMap {
        case Sentinel(n) => spans(n.toInt)
        case tok => Vector(tok)
      }
      assert(rebuilt.toSeq === texts(id).trim.split("\\s+").toSeq,
        s"doc $id does not splice back")
    }
  }

  test("tokenEntropy: degenerate and uniform docs hit the analytic values") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),       // H = 0
      (2L, "a b c d e f g h"),                     // H = ln 8, all distinct
      (3L, "x x y y z z")                          // H = ln 3
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) === ((6L, 1L, 0L)))
    val (n2, d2, e2) = got(2L)
    assert((n2, d2) === ((8L, 8L)))
    assert(math.abs(e2 - math.log(8) * 1e6) <= 2,
      s"uniform-doc entropy $e2 vs ${math.log(8) * 1e6}")
    val (n3, d3, e3) = got(3L)
    assert((n3, d3) === ((6L, 3L)))
    assert(math.abs(e3 - math.log(3) * 1e6) <= 2,
      s"ln3 entropy $e3 vs ${math.log(3) * 1e6}")
  }

  test("tokenEntropy matches an in-memory recompute with identical quantization") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Engine.Tables(spark, dir).documents
    val expected = docs.select("doc_id", "text").collect().map { r =>
      val counts = r.getString(1).trim.split("\\s+").filter(_.nonEmpty)
        .groupBy(identity).values.map(_.length.toLong).toSeq
      val n = counts.sum
      val sm = counts.map(k => math.floor(k.toDouble * math.log(k.toDouble) * 1e6).toLong).sum
      r.getLong(0) -> math.max(0L, math.floor(math.log(n.toDouble) * 1e6).toLong - sm / n)
    }.toMap
    val got = TextAnalysis.tokenEntropy(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got === expected)
  }
}
