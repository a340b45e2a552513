package graft.operators

import graft.{RefFixture, SparkTestSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Reference workloads A/B/C (SURVEY §2.3) against the reference's
  * fixtures ([[RefFixture]]) and crafted known-answer inputs.
  */
class WorkloadsSpec extends AnyFunSuite with SparkTestSession {

  // ------------------------------------------------------------- A. wordcount

  test("wordCount equals a naive in-memory count (random-ish corpus)") {
    import spark.implicits._
    val docs = Seq("a b b c", "  c\t d  ", "", "a a a", "e").toDF("text")
    val got = Workloads.wordCount(docs, "text")
      .as[(String, Long)].collect().toMap
    val expect = Seq("a b b c", "c d", "a a a", "e")
      .flatMap(_.split("\\s+")).groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    assert(got === expect)
  }

  // ------------------------------------------------------------- B. Condorcet

  private def ballotsFromFile(path: String) = {
    import spark.implicits._
    spark.read.textFile(path)
      .map(_.trim.split("\\s+"))
      .filter(a => a.length == 3)
      .map(a => (a(0), a(1), a(2)))
      .toDF("c1", "c2", "c3")
  }

  test("vote_input_Anna: Anna wins (the reference's known-answer fixture)") {
    val wins = Workloads.condorcetWins(
      ballotsFromFile(RefFixture.path("vote_input_Anna")))
    assert(wins.head().getString(0) === "Anna")
  }

  test("voteWinner formats the reference's single output line (juice_vote_two.go)") {
    import spark.implicits._
    val wins = Workloads.winnerLine(Workloads.condorcetWins(
      ballotsFromFile(RefFixture.path("vote_input_Anna"))))
    assert(wins.as[String].head() === "Anna win!")
  }

  test("condorcet is invariant under ballot permutation") {
    val ballots = ballotsFromFile(RefFixture.path("vote_input_Anna"))
    val shuffled = ballots.orderBy(rand(seed = 7))
    val a = Workloads.condorcetWins(ballots).collect().toSeq
    val b = Workloads.condorcetWins(shuffled).collect().toSeq
    assert(a === b)
  }

  test("largest reference workload: 21,855 ballots → 65,565 pairs (BASELINE.md)") {
    val ballots = ballotsFromFile(RefFixture.path("vote_input"))
    val src = scala.io.Source.fromFile(RefFixture.path("vote_input"))
    val expected = try src.getLines().count(_.trim.split("\\s+").length == 3)
      finally src.close()
    assert(ballots.count() === expected.toLong) // ~21,855 (BASELINE.md)
    val wins = Workloads.condorcetWins(ballots).collect()
    // 3 candidates → 3 pairwise decisions, each won by someone
    assert(wins.map(_.getLong(1)).sum === 3L)
    assert(wins.nonEmpty)
  }

  test("crafted 3-ballot election: full pairwise majority") {
    import spark.implicits._
    // X>Y>Z, X>Y>Z, Y>Z>X → X beats Y 2-1, X beats Z 2-1, Y beats Z 3-0
    val ballots = Seq(("X", "Y", "Z"), ("X", "Y", "Z"), ("Y", "Z", "X"))
      .toDF("c1", "c2", "c3")
    val wins = Workloads.condorcetWins(ballots)
      .as[(String, Long)].collect().toMap
    assert(wins === Map("X" -> 2L, "Y" -> 1L))
  }

  // ------------------------------------------------------ C. contact tracing

  test("interval overlap is strict (touching intervals do not overlap)") {
    import spark.implicits._
    val pos = Seq(("L1", 10, 20), ("L2", 0, 5)).toDF("p_loc", "p_start", "p_end")
    val tst = Seq(
      ("inside",   "L1", 12, 15),  // contained → contact
      ("straddle", "L1", 18, 25),  // overlaps the tail → contact
      ("touch",    "L1", 20, 30),  // t_start == p_end → NOT a contact
      ("before",   "L1", 0, 10),   // t_end == p_start → NOT a contact
      ("wrongloc", "L2", 12, 15)   // right time, wrong location
    ).toDF("name", "location", "t_start", "t_end")
    val got = Workloads.contactOverlap(pos, tst).as[String].collect().toSet
    assert(got === Set("inside", "straddle"))
  }
}
