package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class PosttrainingSpec extends AnyFunSuite with SparkTestSession {

  /** Crafted response log: group 1 has a clear best/worst, group 2 is
    * all-ties (must drop), group 3 ties at the top AND bottom (id
    * tiebreaks), group 4 is a singleton (drops — no pair from one row).
    */
  private def craftedEvents = {
    import spark.implicits._
    Seq(
      // (user_id, event_id, event_type, value, ts)
      (1L, 10L, "gen", 0.9, 100L),
      (1L, 11L, "gen", 0.1, 200L),
      (1L, 12L, "gen", 0.5, 300L),
      (2L, 20L, "gen", 0.7, 100L),
      (2L, 21L, "gen", 0.7, 200L),
      (3L, 30L, "gen", 0.8, 100L),
      (3L, 31L, "gen", 0.8, 200L), // top tie → larger id 31 chosen
      (3L, 32L, "gen", 0.2, 300L),
      (3L, 33L, "gen", 0.2, 400L), // bottom tie → smaller id 32 rejected
      (4L, 40L, "gen", 0.3, 100L)
    ).toDF("user_id", "event_id", "event_type", "value", "ts")
  }

  test("dpoPairs: best-vs-worst per group, ties broken by id, flat groups drop") {
    val got = Posttraining.dpoPairs(craftedEvents).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq === Seq(
      (1L, 10L, 11L, 900000L, 100000L, 800000L, 3L),
      (3L, 31L, 32L, 800000L, 200000L, 600000L, 4L)))
  }

  test("dpoPairs is partitioning-invariant") {
    val a = Posttraining.dpoPairs(craftedEvents).collect().toSeq
    val b = Posttraining.dpoPairs(craftedEvents.repartition(7)).collect().toSeq
    assert(a === b)
  }

  test("dpoPairs on the fixture: chosen dominates, rejected is dominated") {
    val events = graft.Engine.Tables(spark, "/root/testdata/sf0.001").events
    val byUser = events.select("user_id", "event_id", "value").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), math.floor(r.getDouble(2) * 1e6).toLong)))
      .toMap
    val got = Posttraining.dpoPairs(events).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (u, ch, rj) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val group = byUser(u)
      val chV = group.find(_._1 == ch).get._2
      val rjV = group.find(_._1 == rj).get._2
      assert(chV === group.map(_._2).max, s"user $u chosen not max")
      assert(rjV === group.map(_._2).min, s"user $u rejected not min")
      assert(r.getLong(5) === chV - rjV)
      assert(r.getLong(6) === group.length.toLong)
    }
    // every multi-candidate group with score spread produced a pair
    val expected = byUser.filter { case (_, g) =>
      g.map(_._2).max > g.map(_._2).min }.keySet
    assert(got.map(_.getLong(0)).toSet === expected)
  }

  test("chatAssemble: transcript ordered by (ts, id), fp is md5 of the text") {
    val got = Posttraining.chatAssemble(
      craftedEvents.repartition(5) // order must come from the sort, not input
    ).collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
      r.getString(3), r.getString(4), r.getString(5)))).toMap

    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val t1 = "gen:900000|gen:100000|gen:500000"
    assert(got(1L) === ((3L, t1.length.toLong, "gen:900000", "gen:500000",
      md5hex(t1))))
    val t4 = "gen:300000"
    assert(got(4L) === ((1L, t4.length.toLong, "gen:300000", "gen:300000",
      md5hex(t4))))
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
  }

  test("grpoAdvantage: numerators sum to zero per group, singleton is zero") {
    val got = Posttraining.grpoAdvantage(craftedEvents).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // group 1: v = (900000, 100000, 500000), sum 1500000, n 3
    val g1 = got.filter(_._1 == 1L).map(t => t._2 -> t._4).toMap
    assert(g1 === Map(10L -> (900000L * 3 - 1500000L),
      11L -> (100000L * 3 - 1500000L), 12L -> (500000L * 3 - 1500000L)))
    // advantages cancel within every group (Σ(v·n − Σv) = 0)
    got.groupBy(_._1).foreach { case (u, rows) =>
      assert(rows.map(_._4).sum === 0L, s"group $u advantage must cancel")
      assert(rows.forall(_._5 == rows.length.toLong))
    }
    // singleton group: one candidate, advantage exactly 0
    assert(got.filter(_._1 == 4L).map(_._4).toSeq === Seq(0L))
  }

  test("grpoAdvantage is partitioning-invariant") {
    val a = Posttraining.grpoAdvantage(craftedEvents).collect().toSeq
    val b = Posttraining.grpoAdvantage(craftedEvents.repartition(7)).collect().toSeq
    assert(a === b)
  }

  test("rewardNorm: min→0, max→1e6, flat groups pin to 0") {
    val got = Posttraining.rewardNorm(craftedEvents).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val byId = got.map(t => t._2 -> t._3).toMap
    // group 1: min 100000 → 0, max 900000 → 1e6, mid 500000 → exactly half
    assert(byId(11L) === 0L)
    assert(byId(10L) === 1000000L)
    assert(byId(12L) === (500000L - 100000L) * 1000000L / (900000L - 100000L))
    // flat group 2 and singleton group 4: no spread → 0 by contract
    assert(byId(20L) === 0L && byId(21L) === 0L && byId(40L) === 0L)
    // range contract: everything lands in [0, 1e6]
    assert(got.forall(t => t._3 >= 0L && t._3 <= 1000000L))
  }

  test("chatTruncate: newest turns survive whole, cut is a suffix at the budget") {
    import spark.implicits._
    // turns rendered "gen:<micro>" are 10 chars each (+1 separator);
    // budget 32 fits exactly 3 turns (3·10 + 2 = 32)
    val events = (1L to 5L).map(i =>
      (7L, i, "gen", 0.111111, i * 100L))
      .toDF("user_id", "event_id", "event_type", "value", "ts")
    val got = Posttraining.chatTruncate(events, budgetChars = 32).collect().head
    assert(got.getLong(1) === 5L, "n_turns")
    assert(got.getLong(2) === 3L, "exactly the 3 newest turns fit")
    assert(got.getLong(3) === 32L, "kept_chars")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(got.getString(4) === md5hex("gen:111111|gen:111111|gen:111111"))
    // a budget below one turn keeps zero turns and fingerprints ''
    val none = Posttraining.chatTruncate(events, budgetChars = 9).collect().head
    assert(none.getLong(2) === 0L && none.getLong(3) === 0L)
    assert(none.getString(4) === md5hex(""))
    // a budget past the full transcript keeps everything
    val all = Posttraining.chatTruncate(events, budgetChars = 1000).collect().head
    assert(all.getLong(2) === 5L && all.getLong(3) === 54L)
  }

  test("chatTruncate is partitioning-invariant and keeps a true suffix") {
    val events = graft.Engine.Tables(spark, "/root/testdata/sf0.001").events
    val a = Posttraining.chatTruncate(events).collect().toSeq
    val b = Posttraining.chatTruncate(events.repartition(7)).collect().toSeq
    assert(a === b)
    // suffix-of-the-whole property: the kept fingerprint equals the md5
    // of the LAST kept_chars characters of the full driver-assembled
    // transcript (truncation may only ever cut from the front, at a
    // whole-turn boundary)
    val full = events.select("user_id", "ts", "event_id", "event_type", "value")
      .collect().groupBy(_.getLong(0)).view.mapValues { rs =>
        rs.sortBy(r => (r.getLong(1), r.getLong(2)))
          .map(r => s"${r.getString(3)}:${math.floor(r.getDouble(4) * 1e6).toLong}")
          .mkString("|")
      }.toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(a.map(_.getLong(0)).toSet === full.keySet)
    a.foreach { r =>
      val t = full(r.getLong(0))
      assert(r.getLong(2) <= r.getLong(1), "kept can't exceed total")
      assert(r.getLong(3) <= 200L, "rendered length within budget")
      assert(r.getString(4) === md5hex(t.takeRight(r.getLong(3).toInt)),
        s"user ${r.getLong(0)}: kept text must be a suffix of the whole")
    }
  }

  test("posttrainCurate: dup conversations pair once, thin ones drop") {
    import spark.implicits._
    // users 1 and 2 are IDENTICAL conversations (same turns, same
    // relative order — only ids/ts differ, which never enter the fp);
    // user 3 is distinct; user 4 has < 3 turns (shape-dropped); user 5
    // is all-ties (survives curation, drops at pairing)
    def conv(u: Long, base: Long, vs: Seq[Double]) =
      vs.zipWithIndex.map { case (v, i) =>
        (u, base + i, "gen", v, (i + 1) * 100L) }
    val events = (
      conv(1L, 10L, Seq(0.9, 0.1, 0.5)) ++
      conv(2L, 20L, Seq(0.9, 0.1, 0.5)) ++ // dup of user 1
      conv(3L, 30L, Seq(0.4, 0.8, 0.2)) ++
      conv(4L, 40L, Seq(0.9, 0.1)) ++      // 2 turns < minTurns
      conv(5L, 50L, Seq(0.7, 0.7, 0.7))    // flat
    ).toDF("user_id", "event_id", "event_type", "value", "ts")
    val got = Posttraining.posttrainCurate(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // survivors: user 1 (min id of the dup class), 3, 5; pairs: 1 and 3
    assert(got.toSeq === Seq((1L, 10L, 11L), (3L, 31L, 32L)))
  }

  test("posttrainCurate equals dpoPairs restricted to the survivor set") {
    val events = graft.Engine.Tables(spark, "/root/testdata/sf0.001").events
    val survivors = Posttraining.chatAssembleOn(events)
      .filter(org.apache.spark.sql.functions.col("n_turns") >= 3)
      .collect().map(_.getLong(0)).toSet // fixture fps are all unique
    val direct = Posttraining.dpoPairs(events).collect()
      .filter(r => survivors(r.getLong(0))).toSeq
    val curated = Posttraining.posttrainCurate(events).collect().toSeq
    assert(curated === direct)
  }

  test("passAtK matches the combinatorial estimator on crafted groups") {
    import spark.implicits._
    // groups: (n=6, c=2), (n=4, c=0), (n=4, c=4), (n=2, c=1: degenerate),
    // (n=2, c=0: degenerate), (n=5, c=3: n-c < k → guaranteed pass)
    def g(u: Long, base: Long, passes: Int, fails: Int) = {
      val vs = Seq.fill(passes)(200.0) ++ Seq.fill(fails)(1.0)
      vs.zipWithIndex.map { case (v, i) => (u, base + i, "gen", v, i * 10L) }
    }
    val events = (g(1, 10, 2, 4) ++ g(2, 20, 0, 4) ++ g(3, 30, 4, 0) ++
      g(4, 40, 1, 1) ++ g(5, 50, 0, 2) ++ g(6, 60, 3, 2))
      .toDF("user_id", "event_id", "event_type", "value", "ts")
    def comb(n: Long, k: Long): Long =
      if (k > n) 0L
      else (0L until k).map(j => n - j).product / (1L to k).product
    def expected(n: Long, c: Long): Long =
      if (n < 4) { if (c > 0) 1000000L else 0L }
      // the operator's floor-division spelling, NOT a float reference:
      // 1e6 − ⌊Π(n−c−j)·1e6 / Π(n−j)⌋ (binomials cancel the k!)
      else 1000000L - (0L until 4L).map(j => n - c - j).product * 1000000L /
        (0L until 4L).map(j => n - j).product
    val got = Posttraining.passAtK(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    val want = Map(1L -> (6L, 2L), 2L -> (4L, 0L), 3L -> (4L, 4L),
      4L -> (2L, 1L), 5L -> (2L, 0L), 6L -> (5L, 3L))
    want.foreach { case (u, (n, c)) =>
      assert(got(u) === ((n, c, c * 1000000L / n, expected(n, c))), s"user $u")
    }
    // sanity against the true estimator: C(n−c,k)/C(n,k) for group 1 is
    // C(4,4)/C(6,4) = 1/15 → pass ≈ 0.9333; floor-micro 933334 ≡ the
    // product spelling (binomial ratio equals the factor-product ratio)
    assert(got(1L)._4 === 1000000L - comb(4, 4) * 1000000L / comb(6, 4))
    assert(got(3L)._4 === 1000000L, "all-pass group")
    assert(got(6L)._4 === 1000000L, "fewer than k failures → guaranteed pass")
  }

  test("passAtK: an oversized group fails loudly at the k-derived bound") {
    import org.apache.spark.sql.functions._
    // value 200.0 clears the default 100.0 threshold: every candidate
    // passes, so the legitimate cases below expect passk = 1e6 exactly
    def group(n: Long) = spark.range(n)
      .select(lit(9L).as("user_id"), col("id").as("event_id"),
        lit("gen").as("event_type"), lit(200.0).as("value"),
        col("id").as("ts"))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // k=4 bound is ⌊(Long.Max/1e6)^(1/4)⌋ − 1 ≈ 1741 (pow rounding may
    // land a unit conservative — that only tightens the guard, never
    // admits an overflow): a 1750-candidate group must refuse, naming it
    val bound = math.pow(Long.MaxValue.toDouble / 1e6, 1.0 / 4).toLong - 1
    assert(bound >= 1740 && bound <= 1742, s"derived k=4 bound: $bound")
    assert(math.BigInt(bound) * bound * bound * bound * 1000000L
      <= math.BigInt(Long.MaxValue), "bound must actually be safe")
    val e = intercept[Exception] {
      Posttraining.passAtK(group(1750)).collect()
    }
    assert(messages(e).exists(_.contains(s"overflows past $bound")),
      s"error must name the k=4 bound: ${messages(e).mkString(" | ")}")
    // the bound scales with k: the same 1750 candidates are fine at k=1
    // (n·1e6 is nowhere near Long.Max) and must NOT be refused
    val ok = Posttraining.passAtK(group(1750), k = 1).collect()
    assert(ok.length === 1 && ok.head.getLong(1) === 1750L)
    assert(ok.head.getLong(4) === 1000000L, "all candidates pass at k=1")
    // ...and a k=4 group exactly at the bound computes, not raises
    val under = Posttraining.passAtK(group(bound)).collect()
    assert(under.length === 1 && under.head.getLong(4) === 1000000L)
  }

  test("chatAssemble on the fixture matches a driver-side assembly") {
    val events = graft.Engine.Tables(spark, "/root/testdata/sf0.001").events
    val rows = events.select("user_id", "ts", "event_id", "event_type", "value")
      .collect()
    val ref = rows.groupBy(_.getLong(0)).view.mapValues { rs =>
      rs.sortBy(r => (r.getLong(1), r.getLong(2)))
        .map(r => s"${r.getString(3)}:${math.floor(r.getDouble(4) * 1e6).toLong}")
        .mkString("|")
    }.toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val got = Posttraining.chatAssemble(events).collect()
    assert(got.length === ref.size)
    got.foreach { r =>
      val t = ref(r.getLong(0))
      assert(r.getLong(1) === (t.count(_ == '|') + 1).toLong, s"user ${r.getLong(0)}")
      assert(r.getLong(2) === t.length.toLong)
      assert(r.getString(5) === md5hex(t), s"fp of user ${r.getLong(0)}")
    }
  }

  test("bestOfN: absolute-threshold argmax, ties to the larger id, stats ride along") {
    // threshold 0.45 → 450000 micro: group 1 best is id 10 (0.9), with
    // two candidates individually passing (0.9, 0.5); group 2 ties at
    // 0.7 → larger id 21 wins; group 3 top-ties at 0.8 → id 31; group 4's
    // best (0.3) misses the threshold → the whole prompt is rejected
    val got = Posttraining.bestOfN(craftedEvents, thresholdMicro = 450000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq === Seq(
      (1L, 10L, 900000L, 3L, 2L),
      (2L, 21L, 700000L, 2L, 2L),
      (3L, 31L, 800000L, 4L, 2L)))
  }

  test("bestOfN is partitioning-invariant and its best always clears the bar") {
    val a = Posttraining.bestOfN(craftedEvents, 450000L).collect().toSeq
    val b = Posttraining.bestOfN(craftedEvents.repartition(7), 450000L)
      .collect().toSeq
    assert(a === b)
    val fixture = graft.SparkEntry.queries("best_of_n")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(fixture.nonEmpty)
    fixture.foreach { r =>
      assert(r.getLong(2) >= 100000000L)           // best_micro ≥ default bar
      assert(r.getLong(4) >= 1L)                   // ≥1 passing candidate
      assert(r.getLong(4) <= r.getLong(3))         // n_passing ≤ n_candidates
    }
  }

  test("btScores: strengths order by dominance, symmetric play ties, MM agrees with a float fixed point") {
    import spark.implicits._
    // crafted 3-generator tournament: A beats B in 3 of 4 prompts where
    // they meet, B beats C in 3 of 4, A beats C always — A > B > C is
    // the only consistent strength order
    def group(uid: Long, winner: String, losers: String*) : Seq[(Long, Long, String, Double, Long)] =
      ((winner, 10.0) +: losers.map(_ -> 1.0)).zipWithIndex.map {
        case ((t, v), i) => (uid, uid * 100 + i, t, v, 100L + i)
      }
    val events = (
      group(1, "A", "B") ++ group(2, "A", "B") ++ group(3, "A", "B") ++ group(4, "B", "A") ++
      group(5, "B", "C") ++ group(6, "B", "C") ++ group(7, "B", "C") ++ group(8, "C", "B") ++
      group(9, "A", "C") ++ group(10, "A", "C")
    ).toDF("user_id", "event_id", "event_type", "value", "ts")
    val got = Posttraining.btScores(events).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet === Set("A", "B", "C"))
    val (sa, sb, sc) = (got("A")._3, got("B")._3, got("C")._3)
    assert(sa > sb && sb > sc, s"dominance order: $got")
    // strengths renormalize to a T·1e6 budget each iteration
    assert(math.abs((sa + sb + sc) - 3000000L) <= 3, s"budget: $got")
    // float fixed point of the same MM on the same rates, as an
    // independent oracle (loose tolerance: the integer path truncates)
    val rates = Map(("A","B") -> 0.75, ("B","A") -> 0.25, ("B","C") -> 0.75,
      ("C","B") -> 0.25, ("A","C") -> 1.0, ("C","A") -> 0.0)
    var s = Map("A" -> 1.0, "B" -> 1.0, "C" -> 1.0)
    val opp = Map("A" -> Seq("B","C"), "B" -> Seq("A","C"), "C" -> Seq("A","B"))
    for (_ <- 1 to 50) {
      val raw = s.keys.map { i =>
        val w = opp(i).map(j => rates((i, j))).sum
        val d = opp(i).map(j => 1.0 / (s(i) + s(j))).sum
        i -> w / d
      }.toMap
      val tot = raw.values.sum / 3.0
      s = raw.map { case (k, v) => k -> v / tot }
    }
    for (t <- Seq("A", "B", "C"))
      assert(math.abs(got(t)._3 / 1e6 - s(t)) < 0.15,
        s"$t: integer ${got(t)._3 / 1e6} vs float fixed point ${s(t)}")
    // a symmetric 2-generator tournament lands identical strengths
    val sym = (group(1, "X", "Y") ++ group(2, "Y", "X"))
      .toDF("user_id", "event_id", "event_type", "value", "ts")
    val symGot = Posttraining.btScores(sym).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(symGot("X") === symGot("Y"), s"symmetric play must tie: $symGot")
    assert(symGot("X") === 1000000L)
  }

  test("btScores: the type-domain bound fails loudly") {
    import spark.implicits._
    val events = Seq(
      (1L, 1L, "A", 9.0, 1L), (1L, 2L, "B", 1.0, 2L), (1L, 3L, "C", 1.0, 3L))
      .toDF("user_id", "event_id", "event_type", "value", "ts")
    val e = intercept[IllegalArgumentException] {
      Posttraining.btScores(events, maxTypes = 2)
    }
    assert(e.getMessage.contains("maxTypes"), e.getMessage)
  }

  test("btScores: NULL event_type rows never enter a comparison (stated contract)") {
    import spark.implicits._
    // group 1's argmax row is UNTYPED → win_type is NULL, every
    // comparison filter evaluates UNKNOWN, the whole group contributes
    // nothing; group 2's untyped LOSER drops while its typed pair stays
    val events = Seq(
      (1L, 1L, "A", 1.0, 1L), (1L, 2L, "B", 2.0, 2L),
      (1L, 3L, null.asInstanceOf[String], 9.0, 3L),
      (2L, 4L, "A", 5.0, 4L), (2L, 5L, "B", 1.0, 5L),
      (2L, 6L, null.asInstanceOf[String], 0.0, 6L))
      .toDF("user_id", "event_id", "event_type", "value", "ts")
    val got = Posttraining.btScores(events).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // only group 2's A-beats-B comparison survives; no "(null)" row —
    // untyped generators are excluded by contract, not sentineled
    assert(got.keySet === Set("A", "B"), s"got $got")
    assert(got("A")._2 === 1000000L, s"A's win rate: $got") // 1/1 games
    assert(got("B")._2 === 0L, s"B's win rate: $got")
    assert(got("A")._3 > got("B")._3, s"strengths: $got")
  }

  test("reward micro bound raises loudly, including cast-saturating values") {
    import spark.implicits._
    // 1e13 * 1e6 saturates the float->long cast to Long.MaxValue and
    // -1e13 to Long.MinValue — the case where abs() would wrap negative
    // and an abs-based guard silently passes garbage through
    for (bad <- Seq(1e13, -1e13)) {
      val evil = Seq((1L, 1L, "gen", bad, 100L), (1L, 2L, "gen", 0.5, 200L))
        .toDF("user_id", "event_id", "event_type", "value", "ts")
      // the comparison-only selections route through the SAME guard —
      // their arithmetic can't overflow, but the saturating cast class
      // (1e13 silently becoming Long.MaxValue) is closed for the whole
      // family, matching the oracle's mirrored error() arm
      Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        df => Posttraining.rewardNorm(df),
        df => Posttraining.grpoAdvantage(df),
        df => Posttraining.dpoPairs(df),
        df => Posttraining.bestOfN(df)).foreach { op =>
        val e = intercept[Exception](op(evil).collect())
        assert(e.toString.contains("exact-arithmetic") ||
          (e.getCause != null && e.getCause.toString.contains("exact-arithmetic")),
          s"value=$bad: $e")
      }
    }
  }
}
