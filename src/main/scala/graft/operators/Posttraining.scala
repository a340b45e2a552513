package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Post-training data preparation over the `events` table — the SFT /
  * preference-tuning prep shapes a training-data pipeline runs after
  * pre-training curation. The mapping: `user_id` is the prompt-group key
  * (one sampled generation batch per prompt), each event row a candidate
  * response, `value` its reward-model score, `(ts, event_id)` the
  * generation order. Both operators are single-shuffle aggregations on
  * the group key with algebraic (map-side-combinable) aggregates, so at
  * 100 TB each is one pass over the response log: no windows over the
  * whole table, no driver-side state, nothing wider than a group's own
  * turn strings crosses the shuffle.
  *
  * Scores are carried as integer micro-units (`floor(value·1e6)` — the
  * repo's exact-ranking discipline) so selection, margins and ties are
  * bit-identical in any engine.
  */
object Posttraining {

  /** Reward micro-quantization with the family's loud exact-arithmetic
    * bound fused in: `floor(value·1e6)` as a long, raising past ±2^41
    * micro-units (~±2.2e6 raw reward). The bound is what makes every
    * downstream integer product/sum in [[grpoAdvantage]]/[[rewardNorm]]
    * provably wrap-free (see each operator's derivation), and the
    * TWO-SIDED compare is deliberate: a float past ±9.2e12 saturates
    * the cast to Long.Min/MaxValue, where `abs()` itself wraps negative
    * and an abs-based guard silently passes the garbage through.
    *
    * The DuckDB oracles mirror this exact ±2^41 bound (an `error()` arm
    * in the same CASE shape — `SparkEntry.boundedMicroSql`), so the
    * loud-error contract holds ON BOTH SIDES at the SAME bound: a
    * reward between ~2.2e6 raw and BIGINT overflow errors in Spark AND
    * in the oracle, never a silent cross-engine divergence. The
    * comparison-only selections ([[dpoPairsOn]], [[bestOfNOn]]) route
    * through the same guard even though their arithmetic can't
    * overflow — the cast SATURATION class (|value| > ~9.2e12 silently
    * becoming Long.MaxValue on Spark while DuckDB raises on the BIGINT
    * cast) is closed by the same bound.
    */
  private def boundedMicro(value: org.apache.spark.sql.Column,
      op: String): org.apache.spark.sql.Column = {
    val bound = 1L << 41
    val v = floor(value * lit(1e6)).cast("long")
    when(v > bound || v < -bound,
        raise_error(lit(s"$op: |reward_micro| exceeds the exact-arithmetic " +
          s"bound 2^41 (~2.2e6 raw) - rescale rewards")))
      .otherwise(v)
  }

  /** DPO/RLHF preference-pair construction: per prompt group, pair the
    * highest-scored candidate (chosen) with the lowest-scored (rejected)
    * — the best-vs-worst-of-n pairing reward-model pipelines emit for
    * direct-preference optimization. Groups whose candidates all carry
    * the same score are dropped (no preference signal); ties inside a
    * group break on the larger/smaller `event_id` so the pair is a pure
    * function of the data.
    *
    * ONE algebraic aggregate — `max`/`min` over (score, id) structs —
    * so Spark's partial aggregation absorbs each group map-side and the
    * shuffle carries two structs + a count per group, never the
    * candidate rows. The equivalent window spelling (two row_numbers)
    * would shuffle every candidate to its group's reducer; at n
    * candidates per prompt this form moves 3/n of that.
    */
  def dpoPairs(events: DataFrame): DataFrame =
    dpoPairsOn(events).orderBy(col("prompt_id"))

  /** The pairing transform itself, sort-free so it runs unchanged over a
    * STREAMING events frame (update-mode aggregation — per-group
    * max/min/count state is three structs, bounded by the prompt-key
    * cardinality; `stream_dpo` gates it against this batch spelling's
    * oracle).
    */
  def dpoPairsOn(events: DataFrame): DataFrame =
    events
      .select(col("user_id"),
        boundedMicro(col("value"), "dpoPairs").as("v"), col("event_id"))
      .groupBy(col("user_id"))
      .agg(
        max(struct(col("v"), col("event_id"))).as("ch"),
        min(struct(col("v"), col("event_id"))).as("rj"),
        count(lit(1)).as("n_candidates"))
      .filter(col("ch.v") > col("rj.v"))
      .select(col("user_id").as("prompt_id"),
        col("ch.event_id").as("chosen_id"),
        col("rj.event_id").as("rejected_id"),
        col("ch.v").as("chosen_micro"),
        col("rj.v").as("rejected_micro"),
        (col("ch.v") - col("rj.v")).as("margin_micro"),
        col("n_candidates"))

  /** SFT conversation assembly: flatten each prompt group's events into
    * ONE training sample — turns rendered `event_type:score_micro`,
    * ordered by `(ts, event_id)`, joined with `|` — and emit the
    * sample's fingerprint and shape stats (the md5 is what a downstream
    * sample-level dedup keys on; the assembled text itself stays in the
    * lake row, not in this report).
    *
    * One groupBy: `collect_list` of (order-key, turn) structs, sorted
    * IN-ROW (`array_sort` on the struct — ts then the unique event_id,
    * so the transcript is deterministic under any partitioning), then
    * joined. The shuffle carries each turn once (~16 bytes), the sort is
    * per-group local work, and no window or global order is ever asked
    * for. `ts` participates only as a sort key, never as rendered text,
    * so engine timestamp formatting can't leak into the fingerprint.
    */
  def chatAssemble(events: DataFrame): DataFrame =
    chatAssembleOn(events).orderBy(col("user_id"))

  /** The shared turn pipeline: render `event_type:score_micro`, group
    * per prompt, sort in-row by (ts, event_id) — ONE definition of the
    * rendering both fingerprinting gates hash, so the format can never
    * drift between assembly and truncation. Returns (user_id, ss) with
    * `ss` the ordered turn strings. Each consumer collapses its own
    * events scan, so a rewritten events table is read fresh.
    */
  private def sortedTurns(events: DataFrame): DataFrame = {
    val turn = concat_ws(":", col("event_type"),
      floor(col("value") * lit(1e6)).cast("long").cast("string"))
    events
      .select(col("user_id"),
        struct(col("ts"), col("event_id"), turn.as("s")).as("t"))
      .groupBy(col("user_id"))
      .agg(collect_list(col("t")).as("turns"))
      .select(col("user_id"),
        expr("transform(array_sort(turns), x -> x.s)").as("ss"))
  }

  /** The assembly transform itself, sort-free — shared by the gate and
    * the [[posttrainCurate]] composition. */
  def chatAssembleOn(events: DataFrame): DataFrame =
    sortedTurns(events)
      .withColumn("transcript", array_join(col("ss"), "|"))
      .select(col("user_id"),
        size(col("ss")).cast("long").as("n_turns"),
        length(col("transcript")).cast("long").as("total_chars"),
        element_at(col("ss"), 1).as("first_turn"),
        element_at(col("ss"), -1).as("last_turn"),
        md5(col("transcript")).as("fp"))

  /** Group-relative advantage — the GRPO training signal: each
    * candidate's reward relative to its own prompt group's mean,
    * emitted as the EXACT integer numerator `adv_num = v·n − Σv`
    * (advantage = adv_num / (n·1e6)) so neither engine ever divides —
    * the repo's cross-multiplication discipline for data-derived rates.
    *
    * One window over the group key, no ordering (full-partition frame):
    * the output is per-candidate, so shuffling each candidate row to
    * its group is the operator's own output volume, and the window
    * partitions on the high-cardinality prompt key — never a global or
    * low-cardinality window.
    */
  def grpoAdvantage(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events
      .select(col("user_id"), col("event_id"),
        // loud overflow bound (the passAtK pattern): v·n and the group
        // sum wrap Spark's Long silently while the DuckDB oracle RAISES
        // on BIGINT overflow — a latent cross-engine divergence unless
        // it is a hard error on both sides. Per-ROW bound, explicit
        // two-sided compare (never abs(): abs(Long.MinValue) wraps
        // NEGATIVE, so a reward whose micro cast saturated would slip
        // an abs-based guard): every |v| ≤ 2^41 and n ≤ 2^20 give
        // |v·n| ≤ 2^61 and |Σv| ≤ n·max|v| ≤ 2^61, so the numerator
        // |v·n − Σv| ≤ 2^62 < 2^63 — provably exact, including the
        // saturating float→long cast (±2^63 trips the two-sided
        // compare).
        boundedMicro(col("value"), "grpoAdvantage").as("v"),
        col("event_id"))
      .select(col("user_id"), col("event_id"), col("v"))
      .withColumn("n_candidates", count(lit(1)).over(w))
      .withColumn("adv_num", expr(
        s"""CASE WHEN n_candidates > ${1L << 20}L
              THEN raise_error(concat('grpoAdvantage: group ',
                CAST(user_id AS STRING), ' exceeds the exact-arithmetic ',
                'bound (n <= 2^20) - pre-aggregate candidates'))
            ELSE v * n_candidates END""") - sum(col("v")).over(w))
      .select(col("user_id").as("prompt_id"), col("event_id"),
        col("v").as("reward_micro"), col("adv_num"), col("n_candidates"))
      .orderBy(col("prompt_id"), col("event_id"))
  }

  /** Per-group min–max reward normalization to [0, 1e6] micro-units —
    * the whitening step that makes rewards comparable across prompts
    * before pairing or advantage weighting (a hard prompt's best score
    * and an easy prompt's best score both map to 1e6). Pure integer
    * arithmetic: `(v − min)·1e6 div (max − min)` with every operand
    * non-negative, so truncating and flooring division agree in any
    * engine; all-tie groups (no spread) normalize to 0 by contract.
    * Same single high-cardinality-key window shape as
    * [[grpoAdvantage]].
    */
  def rewardNorm(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events
      .select(col("user_id"), col("event_id"),
        // per-ROW loud bound via [[boundedMicro]]: the previous guard
        // compared `mx − mn` AFTER the subtraction, which itself wraps
        // when the two extremes saturate the cast near ±Long.Max — the
        // wrapped (negative) spread then passed the guard and the gate
        // emitted silent garbage. With every |v| ≤ 2^41 the spread
        // mx − mn ≤ 2^42 and (v − mn)·1e6 ≤ 2^42·2^20 = 2^62 < 2^63 —
        // all downstream arithmetic provably exact, no post-hoc check
        // needed.
        boundedMicro(col("value"), "rewardNorm").as("v"))
      .withColumn("mn", min(col("v")).over(w))
      .withColumn("mx", max(col("v")).over(w))
      .withColumn("norm_micro",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(expr("(v - mn) * 1000000 div (mx - mn)")))
      .select(col("user_id").as("prompt_id"), col("event_id"),
        col("v").as("reward_micro"), col("norm_micro"))
      .orderBy(col("prompt_id"), col("event_id"))
  }

  /** Conversation-window truncation: keep each group's LONGEST RECENT
    * SUFFIX of turns whose rendered length fits `budgetChars` — the
    * chat-history packing rule (newest turns survive, history is cut at
    * a whole-turn boundary, never mid-turn). The suffix is found by ONE
    * in-row fold over the reversed (ts,id)-sorted turns: the running
    * cost (`length + 1` separator) is monotone, so the budget cut is
    * contiguous by construction and the fold just counts how many
    * newest turns fit — O(turns) per group, same single-shuffle shape
    * as [[chatAssemble]]. Conversations are length-bounded by the
    * application (turn counts, not corpus size), so the in-row fold is
    * scale-safe at any corpus size.
    *
    * Emits the truncated sample's fingerprint + shape stats; a budget
    * smaller than the newest turn keeps ZERO turns and fingerprints the
    * empty string (the caller's signal to drop or hard-wrap).
    */
  def chatTruncate(events: DataFrame, budgetChars: Int = 200): DataFrame =
    sortedTurns(events)
      .withColumn("n_kept_i", expr(
        s"""aggregate(reverse(ss),
           struct(CAST(0 AS BIGINT) AS used, 0 AS n),
           (acc, s) -> struct(acc.used + length(s) + 1 AS used,
             IF(acc.used + length(s) + 1 <= ${budgetChars + 1},
               acc.n + 1, acc.n) AS n),
           acc -> acc.n)"""))
      .withColumn("kept", expr(
        "IF(n_kept_i = 0, array(), slice(ss, size(ss) - n_kept_i + 1, n_kept_i))"))
      .withColumn("transcript", array_join(col("kept"), "|"))
      .select(col("user_id"),
        size(col("ss")).cast("long").as("n_turns"),
        col("n_kept_i").cast("long").as("n_kept"),
        length(col("transcript")).cast("long").as("kept_chars"),
        md5(col("transcript")).as("fp_kept"))
      .orderBy(col("user_id"))

  /** End-to-end post-training curation, composed as ONE Catalyst plan in
    * cost-correct order (the [[Pipeline.curate]] demonstration for the
    * preference family): conversation assembly → exact sample-level
    * dedup (min-user survivor per transcript fingerprint — identical
    * conversations must not contribute duplicate preference pairs) →
    * shape admission (≥ `minTurns` turns: a one-turn "conversation"
    * carries no preference signal worth pairing) → DPO pairing over the
    * surviving prompt groups.
    *
    * Each stage shrinks what the next touches: the assembly aggregate
    * collapses the response log to one row per prompt; dedup and
    * admission operate on that collapsed table; the survivor set then
    * SEMI-joins back against the log (broadcast at dimension scale —
    * survivors are a user-cardinality projection of two columns), so
    * the pairing aggregate only reads surviving rows. The response log
    * is scanned twice, once per consumer (assembly + pairing).
    */
  def posttrainCurate(events: DataFrame, minTurns: Long = 3): DataFrame = {
    val survivors = chatAssembleOn(events)
      .filter(col("n_turns") >= minTurns)
      .groupBy(col("fp"))
      .agg(min(col("user_id")).as("user_id"))
      .select(col("user_id"))
    dpoPairsOn(events.join(survivors, Seq("user_id"), "left_semi"))
      .orderBy(col("prompt_id"))
  }

  /** Best-of-n rejection sampling — the SFT-set construction an RLHF
    * pipeline runs when it distills a reward model instead of pairing:
    * per prompt group keep ONLY the single highest-scored candidate, and
    * only when that best score clears an ABSOLUTE threshold (a prompt
    * whose whole batch is junk contributes nothing — the rejection in
    * rejection sampling; contrast [[dpoPairs]], which needs only
    * RELATIVE spread). Ties break to the larger `event_id` (the newest
    * generation), the same pure-function-of-the-data rule as the pairing.
    *
    * Same scale shape as [[dpoPairs]]: ONE algebraic aggregate —
    * max(struct) + count + conditional count — so map-side partials
    * absorb each group and the shuffle carries one struct and two longs
    * per prompt, never the candidate rows. `n_passing` (candidates
    * individually above threshold) rides along because it is the
    * selection-rate stat the pipeline dashboards next to the kept set.
    */
  def bestOfN(events: DataFrame, thresholdMicro: Long = 100000000L): DataFrame =
    bestOfNOn(events, thresholdMicro).orderBy(col("prompt_id"))

  /** The selection transform itself, sort-free so it runs unchanged over
    * a STREAMING events frame (update-mode aggregation — per-group state
    * is one struct and two longs; `stream_best_of_n` gates it against
    * this batch spelling's oracle, the [[dpoPairsOn]] twin-gate pattern).
    */
  def bestOfNOn(events: DataFrame, thresholdMicro: Long = 100000000L): DataFrame =
    events
      .select(col("user_id"),
        boundedMicro(col("value"), "bestOfN").as("v"), col("event_id"))
      .groupBy(col("user_id"))
      .agg(
        max(struct(col("v"), col("event_id"))).as("best"),
        count(lit(1)).as("n_candidates"),
        sum(when(col("v") >= thresholdMicro, 1L).otherwise(0L)).as("n_passing"))
      .filter(col("best.v") >= thresholdMicro)
      .select(col("user_id").as("prompt_id"),
        col("best.event_id").as("best_id"),
        col("best.v").as("best_micro"),
        col("n_candidates"), col("n_passing"))

  /** Exact pass@k evaluation rollup — the unbiased estimator of Chen et
    * al. 2021 ("Evaluating Large Language Models Trained on Code"),
    * `pass@k = 1 − C(n−c, k)/C(n, k)`, per prompt group with n sampled
    * candidates of which c clear the reward threshold. The whole
    * estimator is integer arithmetic: both binomials cancel to products
    * of k consecutive non-negative longs, so
    * `1e6 − (Π(n−c−j)·1e6) div (Π(n−j))` is exact in any engine — and
    * when fewer than k failures exist one numerator factor is literally
    * 0, making pass@k = 1 fall out of the product rather than a special
    * case. Groups with n < k can't draw k distinct samples; they report
    * the degenerate any-pass verdict (1e6 if c > 0 else 0) by contract
    * (and guard the zero denominator, which DuckDB would raise on).
    *
    * ONE count/conditional-count aggregate — map-side partials absorb
    * each group, the shuffle carries two longs per prompt. This is the
    * eval-side twin of [[dpoPairs]]: the same response log, rolled up
    * for the RL-eval dashboard instead of the training set.
    */
  def passAtK(events: DataFrame, thresholdMicro: Long = 100000000L,
      k: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def prodFrom(base: String): String =
      (0 until k).map(j => s"($base - $j)").mkString(" * ")
    // loud overflow bound (the repo's loud-failure contract), DERIVED
    // from k: the factor product nᵏ·1e6 must stay under Long.Max, so the
    // largest safe n is ⌊(Long.Max/1e6)^(1/k)⌋ − 1 (k=4 → 1742; k=1 →
    // ~9.2e12). A group past it fails the job with a named remedy
    // instead of silently wrapping to a wrong rate.
    val maxN = math.pow(Long.MaxValue.toDouble / 1e6, 1.0 / k).toLong - 1
    events
      .select(col("user_id"),
        floor(col("value") * lit(1e6)).cast("long").as("v"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") >= thresholdMicro, 1L).otherwise(0L)).as("c"))
      .withColumn("pass1_micro", expr("c * 1000000 div n"))
      .withColumn("passk_micro", expr(
        s"""CASE WHEN n > ${maxN}L THEN raise_error(concat(
              'passAtK: group ', CAST(user_id AS STRING), ' has ',
              CAST(n AS STRING), ' candidates; the k=$k factor product ',
              'overflows past $maxN - pre-aggregate samples or reduce k'))
            WHEN n < $k THEN IF(c > 0, CAST(1000000 AS BIGINT),
              CAST(0 AS BIGINT))
            ELSE CAST(1000000 AS BIGINT) -
              (${prodFrom("(n - c)")} * 1000000) div (${prodFrom("n")})
            END"""))
      .select(col("user_id").as("prompt_id"), col("n"), col("c"),
        col("pass1_micro"), col("passk_micro"))
      .orderBy(col("prompt_id"))
  }

  /** Bradley-Terry generator ranking from per-prompt preferences — the
    * model-comparison rollup an RLHF pipeline runs over its response
    * log: treat `event_type` as the generator identity, each prompt
    * group as one head-to-head set (the group's argmax-scored candidate
    * "beats" every other candidate's generator in that group), and fit
    * Bradley-Terry strengths by Hunter's (2004) MM iteration,
    * `s_i' = W_i / Σ_j n_ij/(s_i+s_j)`, renormalized each step.
    *
    * Comparisons enter as per-ordered-pair WIN RATES
    * (`wins·1e6 div games`, one virtual game per pair), not raw counts:
    * BT's MLE is invariant to scaling all counts, and the rate spelling
    * is what makes every intermediate provably BIGINT-safe at ANY
    * corpus size — rates ≤ 1e6 and strengths renormalized to a
    * Σ = T·1e6 budget give |W_micro·1e6| ≤ 2^46 and
    * |raw·1e6| ≤ 2^53 with no corpus-dependent term anywhere (a
    * count-weighted spelling needs a corpus-wide comparison bound, the
    * overflow class [[passAtK]] guards per group). The trade, stated:
    * pairs are weighted equally rather than by game count.
    *
    * 100 TB shape: the heavy work is TWO algebraic aggregates over the
    * response log (per-prompt argmax via max(struct) — the [[dpoPairs]]
    * selection — then a (winner_type, loser_type) count); everything
    * after runs on a ≤ T² pair table pulled to the driver under the
    * loud `maxTypes` bound (default 64 — the k×dim centroid-pull
    * discipline: domain-bounded by contract, never corpus-bounded).
    * Iterating T²-row joins on the cluster would be K pointless
    * shuffles. All arithmetic is non-negative integer division
    * (Scala `/` ≡ truncating ≡ DuckDB `//` on non-negatives), so the
    * oracle replays the identical iterations as unrolled CTEs and the
    * result is bit-identical in any engine.
    *
    * Output: one row per generator that entered ≥1 cross-type
    * comparison — (event_type, n_opponents, w_micro = Σ win rates,
    * bt_micro = fitted strength, Σ ≈ T·1e6).
    *
    * NULL `event_type` contract (stated, not silent): an untyped row
    * never enters a comparison — `=!=` propagates NULL, so NULL
    * candidates drop from [[winCounts]], and a group whose argmax row
    * is untyped contributes no comparisons at all (its win_type is
    * NULL, which compares UNKNOWN against every candidate). A
    * generator with no identity can't be ranked; map NULLs to a
    * sentinel type upstream (the [[graft.streaming.Streaming
    * .eventTypeSharesMicro]] "(null)" treatment) to include them.
    * Winner ties break on the full (v, event_id, event_type) struct
    * order, mirrored by the oracle's three-key row_number.
    */
  def btScores(events: DataFrame, iterations: Int = 5,
      maxTypes: Int = 64): DataFrame = {
    require(iterations >= 1, s"need at least one iteration, got $iterations")
    val spark = events.sparkSession
    import spark.implicits._
    val scored = events.select(col("user_id"),
      boundedMicro(col("value"), "btScores").as("v"),
      col("event_id"), col("event_type"))
    val winners = scored.groupBy(col("user_id"))
      .agg(max(struct(col("v"), col("event_id"), col("event_type"))).as("win"))
      .select(col("user_id"), col("win.event_type").as("win_type"))
    val winCounts = scored.join(winners, Seq("user_id"))
      .filter(col("event_type") =!= col("win_type"))
      .groupBy(col("win_type").as("a"), col("event_type").as("b"))
      .agg(count(lit(1)).as("wins"))
    // domain-bounded driver pull, loud past the contract (T ≤ maxTypes
    // generators → ≤ T·(T−1) ordered pairs): limit(bound+1) so the
    // failure is a counted fact, not an OOM
    val pairBound = maxTypes * (maxTypes - 1)
    val pairRows = winCounts.limit(pairBound + 1).collect()
    require(pairRows.length <= pairBound,
      s"btScores: more than $pairBound cross-type pairs (> maxTypes=$maxTypes " +
        "generators) - raise maxTypes or pre-map event_type to a bounded domain")
    val wins = pairRows.map(r =>
      (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val types = wins.keysIterator.flatMap(k => Iterator(k._1, k._2))
      .toSeq.distinct.sorted
    require(types.size <= maxTypes,
      s"btScores: ${types.size} generators exceed maxTypes=$maxTypes")
    if (types.isEmpty) {
      return Seq.empty[(String, Long, Long, Long)]
        .toDF("event_type", "n_opponents", "w_micro", "bt_micro")
    }
    // per-ordered-pair win rate over the unordered pair's games; the
    // opponent set is every type the generator shared ≥1 game with
    val rate: Map[(String, String), Long] = (for {
      i <- types; j <- types if i != j
      g = wins.getOrElse((i, j), 0L) + wins.getOrElse((j, i), 0L) if g > 0
    } yield (i, j) -> wins.getOrElse((i, j), 0L) * 1000000L / g).toMap
    val opponents: Map[String, Seq[String]] =
      types.map(i => i -> types.filter(j => rate.contains((i, j)))).toMap
    val wMicro: Map[String, Long] =
      types.map(i => i -> opponents(i).map(j => rate((i, j))).sum).toMap
    val tCount = types.size.toLong
    var s: Map[String, Long] = types.map(_ -> 1000000L).toMap
    for (_ <- 1 to iterations) {
      // d = Σ_j 1e12 div (s_i+s_j) ≈ 1e6 × the true MM denominator;
      // raw = W_micro·1e6 div d ≈ the updated strength in micro units.
      // Bounds (strengths ≤ T·1e6 by the renormalization invariant):
      // W_micro·1e6 ≤ 2^46; d per term ≥ 1e12/(2T·1e6) ≥ 7.6e3 at
      // T=64, so raw ≤ 8.3e9 and raw·1e6 ≤ 2^53 — no corpus term.
      val raw = types.map { i =>
        val d = opponents(i).map { j =>
          val sum = s(i) + s(j)
          if (sum == 0L) 0L else 1000000000000L / sum
        }.sum
        i -> (if (d == 0L) 0L else wMicro(i) * 1000000L / d)
      }.toMap
      val total = raw.valuesIterator.sum
      val unit = total / tCount
      s = types.map(i =>
        i -> (if (unit == 0L) 0L else raw(i) * 1000000L / unit)).toMap
    }
    types.map(i => (i, opponents(i).size.toLong, wMicro(i), s(i)))
      .toDF("event_type", "n_opponents", "w_micro", "bt_micro")
      .orderBy(col("event_type"))
  }
}
