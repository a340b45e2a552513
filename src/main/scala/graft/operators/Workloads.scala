package graft.operators

import graft.Engine.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's three MapReduce workloads (SURVEY.md §2.3), re-expressed
  * as native Spark plans, each in two forms:
  *
  *  - a generic form over any input DataFrame (used by ScalaTest against the
  *    reference's `mj_exe/` fixtures, FIXTURES.md §A), and
  *  - a testdata form over the driver's parquet tables (used by the DuckDB
  *    oracle gate; the mapping follows FIXTURES.md §B — wordcount over
  *    documents.text, the interval join over events value-ranges).
  *
  * Where the reference's executables contain outright bugs we implement the
  * *intended* semantics and document the divergence (SURVEY §7.5):
  *  - B2 `mj_exe/juice_vote.go:34-35` resets its counters inside the per-line
  *    loop (last-ballot-wins); we aggregate over all ballots.
  *  - C4 `mj_exe/contact_juice3.go:53` garbles the interval-overlap guard;
  *    we use the standard overlap predicate tStart < pEnd AND pStart < tEnd.
  */
object Workloads {

  // ---------------------------------------------------------------- A. wordcount

  /** Workload A (wordcount): tokenize a column of text and count words.
    * Reference: `mj_exe/wordcount_maple.go:3-10` (emit `word 1`) +
    * `mj_exe/juice_wordcount.go:11-29` (hash-map sum). Native plan:
    * explode(split) + groupBy.count — Catalyst gives partial aggregation
    * before the shuffle, so the shuffle carries one row per distinct word
    * per partition, not one per token (the reference ships every token line
    * over TCP, `maple_juice/maple_juice.go:344-362`).
    */
  def wordCount(lines: DataFrame, textCol: String): DataFrame =
    lines
      .select(explode(TextAnalysis.whitespaceTokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))

  /** The same wordcount driven through the [[MapleJuice]] engine surface —
    * native maple emits `word 1` lines (`mj_exe/wordcount_maple.go:3-10`),
    * native juice counts each key's group (`mj_exe/juice_wordcount.go:11-29`)
    * — so the oracle gate exercises the generic dataflow path
    * (flatMap → key shuffle → flatMapGroups), not just the Catalyst plan.
    */
  def mjWordCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lines = Tables(spark, dir).documents.select(col("text")).as[String]
    val keyed = MapleJuice.maple(lines, 8) { line =>
      line.trim.split("\\s+").iterator.filter(_.nonEmpty).map(w => s"$w 1")
    }
    val out = MapleJuice.juice(keyed, 8) { (word, group) =>
      Iterator.single(s"$word ${group.size}")
    }
    out.toDF("line")
      .select(
        substring_index(col("line"), " ", 1).as("word"),
        substring_index(col("line"), " ", -1).cast("long").as("cnt"))
      .orderBy(col("word"))
  }

  /** [[mjWordCount]] through the LITERAL exe tier — the E3/E10 external-
    * executable contract (`maple_juice/maple_juice.go:241-264`: lines on
    * stdin, lines on stdout, one juice process per key), driven by
    * POSIX-portable awk programs that mirror the reference's
    * `mj_exe/wordcount_maple.go` / `juice_wordcount.go` byte-for-byte in
    * behavior: maple prints `<token> 1` per whitespace token; juice sums
    * the per-key `1`s and prints `<word> <count>`. Gating this entry
    * means the driver's CORRECTNESS artifact itself exercises
    * `RDD.pipe` + the per-key process launch — previously the one §2.1
    * path whose green light came only from sbt (RefBinarySpec).
    *
    * Scale: process launches are per KEY (vocabulary), not per row, and
    * run inside executor tasks — the same shape the reference uses, and
    * the reason the literal tier is for exe-compatibility, not the
    * native hot path.
    */
  def mjWordCountExe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lines = Tables(spark, dir).documents.select(col("text")).as[String]
    val keyed = MapleJuice.mapleExe(lines,
      "awk '{for(i=1;i<=NF;i++) print $i, 1}'", 8)
    val out = MapleJuice.juiceExe(keyed,
      "awk '{s+=$2} END{if(NR>0) print $1, s}'", 8)
    out.toDF("line")
      .select(
        substring_index(col("line"), " ", 1).as("word"),
        substring_index(col("line"), " ", -1).cast("long").as("cnt"))
      .orderBy(col("word"))
  }

  /** [[mjWordCount]] routed through the RANGE juice partitioning
    * (`maple_juice.go:688-706` intended semantics — contiguous key
    * blocks via `repartitionByRange`). Placement is not output-visible,
    * so the oracle is identical to the hash entry; gating both closes
    * E8's two partitioning modes in the correctness gate itself.
    */
  def mjWordCountRange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lines = Tables(spark, dir).documents.select(col("text")).as[String]
    val keyed = MapleJuice.maple(lines, 8) { line =>
      line.trim.split("\\s+").iterator.filter(_.nonEmpty).map(w => s"$w 1")
    }
    val out = MapleJuice.juice(keyed, 8, MapleJuice.Range) { (word, group) =>
      Iterator.single(s"$word ${group.size}")
    }
    out.toDF("line")
      .select(
        substring_index(col("line"), " ", 1).as("word"),
        substring_index(col("line"), " ", -1).cast("long").as("cnt"))
      .orderBy(col("word"))
  }

  // ---------------------------------------------------------------- B. Condorcet

  /** Workload B (Condorcet pairwise-majority) over arbitrary 3-candidate
    * ballots `(c1, c2, c3)` in preference order.
    *
    * Stage 1 (reference `mj_exe/maple_vote.go:10-39` + `juice_vote.go`):
    * each ballot emits its 3 candidate pairs keyed `(min,max)` with a bit
    * "was the lexicographically smaller one preferred"; majority decides the
    * pairwise winner (ties → the larger candidate, matching the reference's
    * else-branch). Stage 2 (`maple_vote_two.go` + `juice_vote_two.go`):
    * count pairwise wins per candidate. The reference funnels stage 2
    * through a constant key — a single-reducer bottleneck; we use a proper
    * distributed groupBy, output identical (SURVEY §7.5).
    *
    * Returns the full win table (candidate, wins) ordered by wins desc —
    * the first row is the reference's `<candidate> win!` argmax.
    */
  def condorcetWins(ballots: DataFrame): DataFrame = {
    val pairs = ballots.select(explode(array(
      struct(col("c1").as("a"), col("c2").as("b")),
      struct(col("c1").as("a"), col("c3").as("b")),
      struct(col("c2").as("a"), col("c3").as("b")))).as("p"))
      .select(
        least(col("p.a"), col("p.b")).as("lo"),
        greatest(col("p.a"), col("p.b")).as("hi"),
        when(col("p.a") < col("p.b"), lit(1)).otherwise(lit(0)).as("pref_lo"))
    val winners = pairs
      .groupBy(col("lo"), col("hi"))
      .agg(sum(col("pref_lo")).as("lo_votes"), count(lit(1)).as("n"))
      .select(when(col("lo_votes") * 2 > col("n"), col("lo"))
        .otherwise(col("hi")).as("winner"))
    winners.groupBy(col("winner")).agg(count(lit(1)).as("wins"))
      .orderBy(col("wins").desc, col("winner"))
  }

  /** The reference's single output line, `<candidate> win!`
    * (`mj_exe/juice_vote_two.go:17-23` prints only the argmax): the first
    * row of a [[condorcetWins]] table, as one `line` column.
    */
  def winnerLine(wins: DataFrame): DataFrame =
    wins.limit(1).select(concat(col("winner"), lit(" win!")).as("line"))

  /** Ballots derived deterministically from the events table: each user's
    * top-3 event types by frequency (ties broken by type name) form their
    * ballot; users with fewer than 3 distinct types abstain. This keeps the
    * Condorcet pipeline oracle-checkable on driver testdata.
    */
  def ballotsFromEvents(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val counted = t.events
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("n").desc, col("event_type"))
    counted
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .groupBy(col("user_id"))
      .agg(
        max(when(col("rk") === 1, col("event_type"))).as("c1"),
        max(when(col("rk") === 2, col("event_type"))).as("c2"),
        max(when(col("rk") === 3, col("event_type"))).as("c3"))
      .filter(col("c3").isNotNull)
  }

  // ---------------------------------------------------------------- C. contact tracing

  /** Workload C (contact tracing): per-location interval-overlap join.
    * Reference shape (`mj_exe/contact_maple3.go` + `contact_juice3.go`):
    * group visit records by location, split each group into positives and
    * test cases, emit every test visitor whose interval overlaps a positive
    * visitor's interval. The reference executes this as a nested loop
    * inside one reduce call per location; here it is an equi-join on the
    * location key with the range conjunct evaluated inside the join —
    * Catalyst plans the equi part as a shuffled (or broadcast) hash join,
    * so it scales with locations × local pair density, not global pairs.
    */
  def contactOverlap(
      positives: DataFrame, // (p_loc, p_start, p_end)
      tests: DataFrame      // (name, location, t_start, t_end)
  ): DataFrame =
    tests.join(
      positives,
      col("location") === col("p_loc") &&
        col("t_start") < col("p_end") &&
        col("p_start") < col("t_end"))
      .select(col("name"))
      .distinct()

  /** Oracle-gated contact tracing over events: visit = (event_id as the
    * person, user_id as the location, [value, value+50] as the numeric
    * stay interval); positives are 'error' events, test cases 'view'
    * events. Purely numeric intervals keep the oracle compare exact
    * (FIXTURES.md A4 uses sortable scalars for the same reason).
    */
  def traceContacts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("event_id"), col("user_id").as("location"),
        col("event_type"), col("value"))
    val pos = ev.filter(col("event_type") === "error")
      .select(col("location").as("p_loc"), col("value").as("p_start"),
        (col("value") + 50).as("p_end"))
    val tst = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("name"), col("location"),
        col("value").as("t_start"), (col("value") + 50).as("t_end"))
    contactOverlap(pos, tst).orderBy(col("name"))
  }
}
