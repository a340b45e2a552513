package perfbench

import scala.collection.mutable

/** Seeded inputs of the MapleJuice pipeline and their expected job
  * outputs, computed with plain Scala collections (no Spark).
  *
  * Inputs, as newline-terminated text files:
  *  - `corpus`: Zipf-skewed words, so a few keys are heavy;
  *  - `corpus_head`: lines over the 256 most frequent words only, the
  *    slice the exe tier (one process per key) can afford;
  *  - `ballots3` / `ballots8`: full preference orders over 3 and 8
  *    candidates, each ballot a noisy copy of a seeded consensus order;
  *  - `visits`: `name location start end P|T`, locations Zipf-skewed.
  *
  * Expected outputs are sorted lines in the exact shape the jobs write. */
final case class MjSizes(corpusLines: Int, vocab: Int, headLines: Int,
    ballots3: Int, ballots8: Int, visits: Int, locations: Int)

object MjSizes {
  val Default: MjSizes = MjSizes(corpusLines = 40000, vocab = 20000,
    headLines = 1500, ballots3 = 40000, ballots8 = 8000, visits = 40000,
    locations = 2000)
}

final case class MjData(inputs: Seq[(String, String)],
    expected: Map[String, Seq[String]])

object MjGen {
  val Candidates3: Seq[String] = Seq("Anna", "Sam", "Smith")
  val Candidates8: Seq[String] =
    Seq("Ada", "Bo", "Cy", "Dee", "Eli", "Fay", "Gus", "Hal")

  def word(i: Int): String = "w" + Integer.toString(i, 36)

  /** Cumulative Zipf(s) weights over ranks 1..n. */
  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val c = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1, s); c(i) = acc; i += 1 }
    c
  }

  private def draw(cdf: Array[Double], rnd: scala.util.Random): Int = {
    val u = rnd.nextDouble() * cdf(cdf.length - 1)
    val i = java.util.Arrays.binarySearch(cdf, u)
    if (i >= 0) i else -i - 1
  }

  private def corpus(lines: Int, cdf: Array[Double], rnd: scala.util.Random): Seq[String] =
    Seq.fill(lines) {
      val n = 4 + rnd.nextInt(13)
      Seq.fill(n)(word(draw(cdf, rnd))).mkString(" ")
    }

  /** A ballot: the consensus order with a few random adjacent swaps. */
  private def ballots(n: Int, cands: Seq[String], rnd: scala.util.Random): Seq[String] = {
    val consensus = rnd.shuffle(cands).toArray
    Seq.fill(n) {
      val b = consensus.clone()
      (0 until rnd.nextInt(cands.size * 2)).foreach { _ =>
        val i = rnd.nextInt(b.length - 1)
        val t = b(i); b(i) = b(i + 1); b(i + 1) = t
      }
      b.mkString(" ")
    }
  }

  private def visits(n: Int, locs: Int, rnd: scala.util.Random): Seq[String] = {
    val cdf = zipfCdf(locs, 1.0)
    Seq.tabulate(n) { i =>
      val start = rnd.nextInt(100000)
      val end = start + 10 + rnd.nextInt(490)
      val flag = if (rnd.nextInt(10) == 0) "P" else "T"
      s"p$i L${draw(cdf, rnd)} $start $end $flag"
    }
  }

  def wordCounts(lines: Seq[String]): Seq[String] = {
    val m = mutable.HashMap.empty[String, Long]
    lines.foreach(_.trim.split("\\s+").foreach(w => if (w.nonEmpty) m(w) = m.getOrElse(w, 0L) + 1))
    m.iterator.map { case (w, c) => s"$w $c" }.toSeq.sorted
  }

  /** Pairwise majority winners (`winner,loser`; a tie goes to the
    * larger name) and each candidate's pairwise wins (`name wins`;
    * candidates without a win are absent). */
  def condorcet(ballots: Seq[String]): (Seq[String], Seq[String]) = {
    val prefLo = mutable.HashMap.empty[(String, String), (Long, Long)]
    ballots.foreach { b =>
      val r = b.split(" ")
      for (i <- r.indices; j <- i + 1 until r.length) {
        val (lo, hi) = if (r(i) < r(j)) (r(i), r(j)) else (r(j), r(i))
        val (ones, n) = prefLo.getOrElse((lo, hi), (0L, 0L))
        prefLo((lo, hi)) = (ones + (if (r(i) == lo) 1 else 0), n + 1)
      }
    }
    val pairs = prefLo.toSeq.map { case ((lo, hi), (ones, n)) =>
      if (ones * 2 > n) (lo, hi) else (hi, lo)
    }
    val wins = pairs.groupBy(_._1).map { case (w, ps) => s"$w ${ps.size}" }.toSeq.sorted
    (pairs.map { case (w, l) => s"$w,$l" }.sorted, wins)
  }

  /** `location name` for every test visit overlapping a positive visit
    * at the same location (nested loop per location). */
  def contacts(visitLines: Seq[String]): Seq[String] = {
    val rows = visitLines.map(_.split(" "))
    rows.groupBy(_(1)).toSeq.flatMap { case (loc, vs) =>
      val pos = vs.filter(_(4) == "P").map(v => (v(2).toLong, v(3).toLong))
      vs.filter(_(4) == "T").filter { t =>
        val (ts, te) = (t(2).toLong, t(3).toLong)
        pos.exists { case (ps, pe) => ts < pe && ps < te }
      }.map(t => s"$loc ${t(0)}").distinct
    }.sorted
  }

  def generate(seed: Long, sizes: MjSizes = MjSizes.Default): MjData = {
    val rnd = new scala.util.Random(seed)
    val cdf = zipfCdf(sizes.vocab, 1.1)
    val text = corpus(sizes.corpusLines, cdf, rnd)
    val head = corpus(sizes.headLines, cdf.take(256), rnd)
    val b3 = ballots(sizes.ballots3, Candidates3, rnd)
    val b8 = ballots(sizes.ballots8, Candidates8, rnd)
    val v = visits(sizes.visits, sizes.locations, rnd)
    val (pairs3, wins3) = condorcet(b3)
    val (pairs8, wins8) = condorcet(b8)
    MjData(
      inputs = Seq("corpus" -> text, "corpus_head" -> head, "ballots3" -> b3,
        "ballots8" -> b8, "visits" -> v).map { case (k, ls) => k -> ls.mkString("", "\n", "\n") },
      expected = Map(
        "wordcount" -> wordCounts(text),
        "wordcount_exe" -> wordCounts(head),
        "vote3_pairs" -> pairs3, "vote3_wins" -> wins3,
        "vote8_pairs" -> pairs8, "vote8_wins" -> wins8,
        "contacts" -> contacts(v)))
  }
}
