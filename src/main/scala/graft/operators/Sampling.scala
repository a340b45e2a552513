package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines. `df.sample()` is
  * seed-stable only for a fixed partitioning — repartition the input and
  * the sample changes, which poisons reproducibility of a data recipe.
  * Hash-gating on a stable key makes the sample a pure function of the
  * DATA: the same rows are selected on any cluster, any partitioning,
  * any engine that can MD5 a string (the bucket is the low 60 bits of
  * md5(salt ++ key) mod 1e6 — portable to DuckDB/Trino/Postgres verbatim,
  * which is also what lets the driver oracle-check the sample
  * row-for-row). It is also the only sampler that composes with
  * incremental ingestion (a row's membership never changes as the corpus
  * grows).
  */
object Sampling {

  private val Buckets = 1_000_000L

  private def bucket(keyCol: Column, salt: String): Column =
    pmod(TextAnalysis.md5_60(concat(lit(salt), keyCol.cast("string"))), lit(Buckets))

  private def gate(keyCol: Column, fraction: Column, salt: String): Column =
    bucket(keyCol, salt) < (lit(Buckets) * fraction).cast("long")

  /** Keep ~`fraction` of rows, chosen by hash of `keyCol`. Distinct
    * `salt`s yield INDEPENDENT samples (overlap ≈ product of fractions —
    * for guaranteed-disjoint train/eval membership use [[disjointSplits]],
    * which carves non-overlapping bucket ranges out of ONE salt).
    */
  def deterministicSample(df: DataFrame, keyCol: String, fraction: Double,
      salt: String = ""): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction $fraction outside [0,1]")
    df.filter(gate(col(keyCol), lit(fraction), salt))
  }

  /** Weight-gated ("soft") sampling: each row carries its OWN keep
    * probability in `weightCol` (∈ [0,1]) and survives when its hash
    * bucket falls under it — the quality-proportional downsampling move
    * (keep everything great, a sliver of junk) that modern curation
    * pipelines use instead of a hard quality cutoff. Same md5 bucket
    * machinery as [[deterministicSample]], so the decision is
    * per-row deterministic, partitioning-invariant, and monotone in the
    * weight (raising a row's weight can only keep it). A pushed-down
    * scalar filter — zero shuffles beyond whatever produced the weights.
    */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
      salt: String = "qw:"): DataFrame =
    df.filter(gate(col(keyCol), col(weightCol), salt))

  /** Partition the corpus into provably disjoint, jointly exhaustive
    * splits with the given weights (e.g. Seq(0.9, 0.05, 0.05) →
    * train/val/test): split i keeps the bucket range
    * [cum(w_0..w_{i-1}), cum(w_0..w_i)) of one shared hash, so no row can
    * land in two splits and every row lands in exactly one.
    */
  def disjointSplits(df: DataFrame, keyCol: String, weights: Seq[Double],
      salt: String = ""): Seq[DataFrame] = {
    require(weights.nonEmpty && weights.forall(_ >= 0), "weights must be >= 0")
    require(math.abs(weights.sum - 1.0) < 1e-9, s"weights must sum to 1, got ${weights.sum}")
    val cuts = weights.scanLeft(0.0)(_ + _).map(c => (Buckets * c).toLong)
    val b = bucket(col(keyCol), salt)
    cuts.sliding(2).toSeq.zipWithIndex.map { case (Seq(lo, hi), i) =>
      // last split's upper bound is inclusive of the final bucket so
      // rounding never drops rows
      if (i == weights.length - 1) df.filter(b >= lo)
      else df.filter(b >= lo && b < hi)
    }
  }

  /** Single-frame labeled form of [[disjointSplits]]: every row gets its
    * split NAME (e.g. train/val/test) from the same shared-hash bucket
    * ranges, so the assignment is provably disjoint and exhaustive and
    * can be carried as a column through the rest of the pipeline (write
    * once partitioned by split, instead of three filtered scans). A
    * pushed-down scalar expression — zero shuffles.
    */
  def splitAssign(df: DataFrame, keyCol: String, weights: Seq[Double],
      names: Seq[String], salt: String = "split:"): DataFrame =
    df.withColumn("split", splitOf(col(keyCol), weights, names, salt))

  /** The split-name assignment as a bare scalar COLUMN over any key
    * expression — the same shared-hash bucket ranges as [[splitAssign]],
    * exposed so audits joining on ids that are already in hand (e.g. the
    * near-dup pair table's doc_a/doc_b) can derive each side's split
    * in-row instead of key-joining back to a corpus-sized assignment
    * table. Pushed-down scalar — zero shuffles.
    */
  def splitOf(key: Column, weights: Seq[Double], names: Seq[String],
      salt: String = "split:"): Column = {
    require(names.length == weights.length && names.nonEmpty,
      s"need one name per weight, got $names / $weights")
    require(math.abs(weights.sum - 1.0) < 1e-9, s"weights must sum to 1, got ${weights.sum}")
    val cuts = weights.scanLeft(0.0)(_ + _).map(c => (Buckets * c).toLong)
    val b = bucket(key, salt)
    // the final split is the otherwise-branch, so rounding in the last
    // cut can never drop a row (same rule as disjointSplits)
    names.init.zip(cuts.tail.init)
      .foldRight(lit(names.last): Column) { case ((n, hi), rest) =>
        when(b < hi, lit(n)).otherwise(rest)
      }
  }

  /** Per-stratum fractions (e.g. language-balanced corpus sampling):
    * strata absent from the map are dropped, matching
    * `DataFrameStatFunctions.sampleBy` semantics but deterministic in the
    * data rather than in a seed + partitioning.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
      fractions: Map[String, Double], salt: String = ""): DataFrame = {
    require(fractions.values.forall(f => f >= 0 && f <= 1), "fractions outside [0,1]")
    val frac = fractions.foldLeft(lit(0.0)) { case (acc, (stratum, f)) =>
      when(col(strataCol) === stratum, lit(f)).otherwise(acc)
    }
    df.filter(gate(col(keyCol), frac, salt))
  }

  /** Cap the number of rows kept per group (the "at most K documents per
    * domain" rule every web-scale corpus recipe applies so one giant
    * domain can't dominate training). Selection is deterministic in the
    * data: within a group, rows rank by md5(salt ++ key) — a stable,
    * engine-portable order — and ranks > K drop. Runs through
    * [[Ranking.bucketedTopK]] so a billion-page domain never serializes
    * into one window task; the output keeps the caller's columns plus
    * the appended 1-based `rk` (which replaces any existing `rk`).
    */
  def capPerGroup(df: DataFrame, groupCol: String, keyCol: String, k: Int,
      salt: String = "cap:", buckets: Int = 64): DataFrame =
    Ranking.bucketedTopK(df,
      groupCols = Seq(col(groupCol)),
      orderCols = Seq(md5(concat(lit(salt), col(keyCol).cast("string"))), col(keyCol)),
      k = k,
      bucketKeys = Seq(col(keyCol)),
      buckets = buckets)

  /** Deterministic global shuffle — the "shuffle the corpus before
    * training" step, made a pure function of the data: order by
    * md5(salt ++ key). Reproducible on any cluster at any partitioning
    * (unlike orderBy(rand(seed))), and resumable — a row's position
    * depends only on its own key and the fixed salt. Spark plans the
    * orderBy as a range-partitioned total sort (sampled range exchange +
    * per-partition sort), the shape that scales: no single-reducer sort,
    * and downstream writers can stream partition files in order.
    */
  def trainOrderShuffle(df: DataFrame, keyCol: String,
      salt: String = "shuf42:"): DataFrame = {
    val skey = md5(concat(lit(salt), col(keyCol).cast("string")))
    df.withColumn("skey", skey).orderBy(col("skey"))
  }

  /** Language-mixture rebalancing: downsample over-represented languages
    * so every language targets an EQUAL share of corpus tokens (the
    * uniform special case of pre-training mixture weighting). Per-language
    * keep-fractions are computed IN-PLAN — token totals per language, the
    * corpus total and language count via full-frame windows over that
    * tiny aggregate — so there is no eager count, no driver constant to
    * drift, and the operator re-derives correct fractions as the corpus
    * grows. Document membership is the same salted-md5 gate as every
    * sampler here: deterministic, partitioning-invariant, stable under
    * incremental ingest. Languages at or under target keep everything
    * (frac clamps to 1).
    */
  def langBalance(docs: DataFrame, salt: String = "bal:"): DataFrame = {
    val d = docs.select(col("doc_id"), col("lang"),
      size(TextAnalysis.whitespaceTokens(col("text"))).cast("double").as("tok"))
    // integer-valued doubles: all sums exact, so frac is bit-identical
    // in any engine and under any partitioning. The corpus total and
    // language count ride in as a broadcast 1-row scalar frame (the
    // Retrieval.bm25 idiom) rather than a full-frame window over the
    // per-language aggregate: same exact arithmetic, but the plan keeps
    // partial aggregation and never routes the (tiny) domain table
    // through a single-partition WindowExec — so a REAL unpartitioned
    // window sneaking into some future plan stays visible in the logs.
    val langTok = d.groupBy(col("lang")).agg(sum(col("tok")).as("lang_tok"))
    val totals = langTok.agg(sum(col("lang_tok")).as("__tot_tok"),
      count(lit(1)).as("__n_lang"))
    val lt = langTok.crossJoin(broadcast(totals))
      .withColumn("frac", least(lit(1.0),
        col("__tot_tok") / col("__n_lang") / col("lang_tok")))
      .select(col("lang").as("__lb_lang"), col("frac"))
    // NULL lang (lang-id below confidence) is a language slice like any
    // other: the null-safe join keeps those docs in their own sampled
    // group instead of silently dropping them while still counting them
    // in everyone else's target
    d.join(broadcast(lt), d("lang") <=> lt("__lb_lang"))
      .filter(gate(col("doc_id"), col("frac"), salt))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  // ------------------------- DSIR-style importance weights (Xie et al.)

  /** Per-document importance weights for Data Selection via Importance
    * Resampling (Xie et al. 2023): the log-likelihood ratio of the doc
    * under an add-one-smoothed unigram LM of a TARGET slice (the
    * curated domain the recipe wants more of) vs the LM of the full raw
    * corpus. Docs that "sound like" the target get positive weights;
    * selection then composes with [[weightedSample]]/top-k — the weight
    * is the product every DSIR deployment actually materializes.
    *
    * lr(doc) = Σ_tokens tf·ln[ ((c_target + 1) / (c_raw + 1)) ·
    * (N_raw + V)/(N_target + V) ] — accumulated as per-term micro-nat
    * BIGINTs (floor(term·1e6), the [[Clustering]] label-centroid
    * quantization) so the sum is engine-exact under any partitioning
    * and immune to cross-engine round() disagreement at representation
    * boundaries.
    *
    * Scale shape (mirrors docPerplexity): both LMs come from ONE token
    * aggregate over one corpus scan (the target side is a conditional
    * sum inside the same groupBy, not a second pass); the smoothing
    * normalizer rides in as a 1-row scalar subquery; tf⋈counts shuffles
    * on the token, linear in distinct (doc, token) pairs; final rollup
    * is an integer groupBy(doc_id).
    */
  def dsirWeights(docs: DataFrame, targetPred: Column): DataFrame = {
    val toks = docs
      .select(col("doc_id"), targetPred.as("is_t"),
        explode(TextAnalysis.whitespaceTokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val counts = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("is_t"), lit(1L)).otherwise(lit(0L))).as("ct"))
    // (N_raw + V) / (N_target + V) as ONE scalar subquery
    val scale = counts
      .agg(((sum(col("cr")) + count(lit(1))).cast("double") /
            (sum(col("ct")) + count(lit(1))).cast("double")).as("s"))
      .scalar()
    tf.join(counts, Seq("token"))
      // floor-quantize (binary floor of the IEEE product — the
      // label_centroids discipline): round(x, 6) would reintroduce the
      // Spark shortest-decimal-HALF_UP vs DuckDB binary-value hazard on
      // an exact 6th-decimal half; floor of the same double is
      // bit-identical in any engine
      .withColumn("term_micro",
        floor(col("tf") *
          log(((col("ct") + lit(1.0)) / (col("cr") + lit(1.0))) * scale) * lit(1e6))
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("term_micro")).as("lr_micro"))
      // deliberately NO rounded avg column: lr_micro/(1e6·n_tokens) can
      // land exactly on a 6th-decimal half (e.g. -39450/20), where
      // Spark's shortest-decimal HALF_UP and DuckDB's binary-value
      // rounding disagree — callers derive the mean from the two exact
      // integers instead
      .select(col("doc_id"), col("n_tokens"), col("lr_micro"))
      .orderBy(col("doc_id"))
  }

  /** Shared rate table for [[mixTemperature]]/[[mixUpsample]]: per
    * source, its token count `n_s` and temperature-scaled token target
    * `t_s = (budget·w) div Σw` with `w = floor(sqrt(n_s/N)·1e6)`. The
    * two corpus-level scalars (Σn_s, then Σw) ride in as broadcast
    * 1-row frames instead of full-frame windows over the per-source
    * aggregate — identical integer arithmetic (long sums are exact in
    * any order), but no single-partition WindowExec in the plan.
    */
  private def tempTargets(d: DataFrame, budget: Long): DataFrame = {
    // MATERIALIZE the per-source token histogram: the scalar-frame
    // chain below (totN → weighted → totW → targets) consumes it and
    // its derivations FOUR more times through crossJoins, and without
    // the checkpoint Catalyst re-ran the corpus scan + tokenize once
    // per consumer (measured: 5 scans in the mix_temperature plan, 2
    // after). The table is source-domain-bounded — mixture weights over
    // at most a few thousand sources at any corpus size.
    val perSource = d.groupBy(col("source")).agg(sum(col("tok")).as("n_s"))
      .localCheckpoint(true)
    val totN = perSource.agg(sum(col("n_s")).as("__tot_n"))
    val weighted = perSource.crossJoin(broadcast(totN))
      .withColumn("w", floor(sqrt(col("n_s").cast("double") /
        col("__tot_n").cast("double")) * lit(1e6)).cast("long"))
    val totW = weighted.agg(sum(col("w")).as("__tot_w"))
    weighted.crossJoin(broadcast(totW))
      .withColumn("t_s", expr(s"($budget * w) div __tot_w"))
      .select(col("source"), col("n_s"), col("t_s"))
  }

  /** Temperature-based source mixture (UniMax / multilingual-LM
    * sampling): per-source admission rates proportional to
    * `share^α` (α = 1/2 here — square-root temperature), renormalized,
    * scaled to a token `budget` — big sources are damped, small ones
    * upweighted, the standard fix for head-language dominance applied
    * at the SOURCE level. Admission itself is the usual salted-md5 gate
    * (deterministic, partitioning-invariant, monotone in the rate).
    *
    * Engine-exactness discipline: every data-derived rate is carried in
    * INTEGER micro-units. `w = floor(sqrt(n_s/N)·1e6)` (sqrt is
    * correctly rounded in IEEE — identical bits in any engine), target
    * tokens `t_s = (budget·w) div Σw` and the admission threshold
    * `min(1e6, (1e6·t_s) div n_s)` are pure BIGINT division — a double
    * quotient + floor could disagree with true integer division when
    * rounding crosses an integer, so `div` it is. The per-source table
    * is source-cardinality-sized; the corpus side is one scan + one
    * broadcast join, no shuffle.
    */
  def mixTemperature(docs: DataFrame, budget: Long,
      salt: String = "mixt:"): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    val d = docs.select(col("doc_id"), col("source"),
      TextAnalysis.tokenCount(col("text")).as("tok"))
    val rates = tempTargets(d, budget)
      .withColumn("rate_micro",
        least(lit(1000000L), expr("(1000000 * t_s) div n_s")))
      .select(col("source").as("__mt_source"), col("rate_micro"))
    d.join(broadcast(rates), d("source") === col("__mt_source"))
      .filter(bucket(col("doc_id"), salt) < col("rate_micro"))
      .select(col("doc_id"), col("source"), col("tok"), col("rate_micro"))
      .orderBy(col("doc_id"))
  }

  /** [[mixTemperature]] WITHOUT the 100% clamp — epoch upsampling: when
    * the temperature-scaled token target of a small source EXCEEDS its
    * size, the source is repeated (fractional epochs), the standard
    * multilingual-LM treatment of tail languages. Each doc emits
    * `f div 1e6` full copies plus one more when its salted-md5 bucket
    * falls under `f mod 1e6` — deterministic, partitioning-invariant,
    * and in expectation every source lands its target token mass. Same
    * all-integer rate discipline as [[mixTemperature]] (shared sqrt-
    * share weights, BIGINT division); the copy expansion is one in-row
    * `sequence` explode, so output volume is the only cost.
    */
  def mixUpsample(docs: DataFrame, budget: Long,
      salt: String = "ups:"): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    val d = docs.select(col("doc_id"), col("source"),
      TextAnalysis.tokenCount(col("text")).as("tok"))
    val rates = tempTargets(d, budget)
      .withColumn("f_micro", expr("(1000000 * t_s) div n_s"))
      .select(col("source").as("__us_source"), col("f_micro"))
    d.join(broadcast(rates), d("source") === col("__us_source"))
      .withColumn("n_copies",
        expr("f_micro div 1000000") +
          when(bucket(col("doc_id"), salt) < expr("f_micro % 1000000"), 1)
            .otherwise(0))
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("source"), col("tok"),
        explode(expr("sequence(1, n_copies)")).as("copy"))
      .select(col("doc_id"), col("source"),
        col("copy").cast("int").as("copy"), col("tok"))
      .orderBy(col("doc_id"), col("copy"))
  }
}
