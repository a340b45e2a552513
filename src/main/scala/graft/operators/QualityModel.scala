package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Logistic document-quality filter — the learned counterpart of the
  * heuristic [[TextAnalysis.qualityScore]]: a logistic model over cheap
  * per-doc text features, the CCNet/fastText-style "quality classifier"
  * every large-scale pretraining pipeline runs between crawl ingest and
  * sampling (the reference has nothing of the kind; pipeline extension in
  * the SURVEY §7.2-M6 family).
  *
  * [[logitScore]] is the gated INFERENCE path: score every doc with a
  * fixed weight vector. Features and the linear score are scan-fused
  * scalar expressions (zero shuffles, the filter-cascade shape); the gate
  * compares the 6-decimal score, the 4-decimal probability and the keep
  * decision against DuckDB computing the same arithmetic.
  *
  * 100 TB shape: inference is embarrassingly parallel (no shuffle at
  * all).
  */
object QualityModel {

  /** Fixed weights (bias, w_logTokens, w_distinctRatio, w_longRatio) for
    * the gated scorer; the bias centers the decision boundary inside the
    * fixture's score distribution so `keep` genuinely splits the corpus
    * (median unbiased score ≈ 3.147 at sf0.01).
    */
  val GateWeights: Array[Double] = Array(-3.15, 0.45, 1.2, 0.8)

  /** The three feature expressions, shared by every entry point so the
    * projected ([[features]]) and in-place ([[logitScoreWide]]) paths
    * compute bit-identical scores.
    */
  private def featureExprs: Seq[Column] = {
    val w = TextAnalysis.whitespaceTokens(col("text"))
    val nTok = size(w).cast("double")
    Seq(log(lit(1.0) + nTok),
      size(array_distinct(w)).cast("double") / nTok,
      size(filter(w, t => length(t) >= 3)).cast("double") / nTok)
  }

  /** Per-doc features, all derived from integer token statistics so both
    * engines compute bit-identical inputs (the only transcendental is the
    * final ln): f1 = ln(1 + #tokens), f2 = distinct-token ratio,
    * f3 = ratio of tokens ≥ 3 chars (the [[TextAnalysis.qualityScore]]
    * long-token signal).
    */
  def features(docs: DataFrame): DataFrame = {
    val Seq(f1, f2, f3) = featureExprs
    docs.select(col("doc_id"), f1.as("f1"), f2.as("f2"), f3.as("f3"))
  }

  private def linearOf(weights: Array[Double], fs: Seq[Column]): Column =
    lit(weights(0)) + lit(weights(1)) * fs(0) +
      lit(weights(2)) * fs(1) + lit(weights(3)) * fs(2)

  private def linear(weights: Array[Double]): Column =
    linearOf(weights, Seq(col("f1"), col("f2"), col("f3")))

  /** Score + keep decision under a fixed weight vector. `keep` is decided
    * on the UNROUNDED score (both engines), `z`/`prob` are rounded for
    * the value compare.
    */
  def logitScore(docs: DataFrame,
      weights: Array[Double] = GateWeights): DataFrame =
    logitScoreOn(docs, weights).orderBy(col("doc_id"))

  /** [[logitScore]] without the output sort — the form streaming can
    * run (a global sort is illegal on an unbounded stream).
    */
  def logitScoreOn(docs: DataFrame, weights: Array[Double]): DataFrame = {
    val z = linear(weights)
    features(docs)
      .select(col("doc_id"),
        round(z, 6).as("z"),
        round(lit(1.0) / (lit(1.0) + exp(-z)), 4).as("prob"),
        when(z > 0, lit(1)).otherwise(lit(0)).as("keep"))
  }

  /** [[logitScoreOn]] with the ORIGINAL columns carried through —
    * `z`/`prob`/`keep` are appended to `docs`' schema instead of
    * projecting it down to scores. This is the ingest-admission shape: a
    * stream (or batch pass) that persists admitted documents needs the
    * text and metadata to still be there after the cut, and a stream
    * cannot re-join them back on (stream-stream joins need watermarks).
    * Same scan-fused scalar expressions, identical score arithmetic to
    * [[logitScoreOn]] by construction ([[featureExprs]] is shared).
    */
  def logitScoreWide(docs: DataFrame,
      weights: Array[Double] = GateWeights): DataFrame = {
    val z = linearOf(weights, featureExprs)
    docs
      .withColumn("z", round(z, 6))
      .withColumn("prob", round(lit(1.0) / (lit(1.0) + exp(-z)), 4))
      .withColumn("keep", when(z > 0, lit(1)).otherwise(lit(0)))
  }

  /** Probability-bucket count for the calibration table. */
  val CalibrationBins = 20

  /** Calibration/agreement table for the learned filter — the check every
    * classifier swap-in runs before replacing an incumbent rule: bucket
    * the model's predicted keep-probability into [[CalibrationBins]]
    * equal-width bins and compare, per bin, against the heuristic
    * cascade's verdict ([[TextAnalysis.filterCascade]] thresholds — the
    * incumbent). A calibrated, agreeing model shows cascade keep-rates
    * rising monotonically with predicted probability; a flat band is
    * where the two filters disagree and human review samples from.
    *
    * Engine-exactness: the probability is the gate's own 4-decimal
    * rounding lifted to an exact integer (`prob_micro` ∈ [0, 10000]), so
    * bin assignment and both per-bin rates are pure BIGINT arithmetic —
    * bit-identical under any partitioning and in any engine.
    *
    * 100 TB shape: model score AND cascade verdict are scan-fused scalar
    * expressions over one documents pass (no join between the two
    * filters); the only shuffle is the ≤[[CalibrationBins]]-key
    * aggregate with map-side partials.
    */
  def calibrationTable(docs: DataFrame,
      weights: Array[Double] = GateWeights): DataFrame = {
    val z = linearOf(weights, featureExprs)
    val prob4 = round(lit(1.0) / (lit(1.0) + exp(-z)), 4)
    val toks = TextAnalysis.whitespaceTokens(col("text"))
    val cascadeKeep = when(
      size(toks) < TextAnalysis.CascadeMinTokens ||
        TextAnalysis.alphaRatioExpr < TextAnalysis.CascadeMinAlpha ||
        TextAnalysis.distinctRatioExpr < TextAnalysis.CascadeMinDistinct,
      lit(0L)).otherwise(lit(1L))
    docs
      .select(round(prob4 * 10000).cast("long").as("prob_micro"),
        cascadeKeep.as("ck"))
      .withColumn("bin",
        least(expr(s"prob_micro * $CalibrationBins div 10000"),
          lit(CalibrationBins - 1L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("ck")).as("n_cascade_keep"),
        sum(col("prob_micro")).as("__pm"))
      .select(col("bin"), col("n"), col("n_cascade_keep"),
        expr("n_cascade_keep * 1000000 div n").as("cascade_keep_micro"),
        expr("__pm * 100 div n").as("mean_prob_micro"))
      .orderBy(col("bin"))
  }

  /** Snorkel-style weak supervision over labeling-function votes — how a
    * quality TRAINING SET gets made when no human labels exist: each
    * rule votes accept (+1) / reject (−1) / ABSTAIN (0) — abstention is
    * what separates this from [[TextAnalysis]]'s hard cascade, where
    * every rule fires on every doc — and the weak label is the vote
    * sign with confidence |Σ| / #non-abstaining. The output feeds
    * [[trainLogit]] as its label column; the per-rule votes ride along
    * for the agreement/conflict audit a label model wants.
    *
    * Four rules on pure INTEGER token statistics (counts, micro-ratios
    * by integer division — all positive, so Spark `div` == DuckDB `//`):
    * length, lexical diversity, long-token ratio, mean token length.
    * Scan-fused, zero shuffles; every quantity engine-exact.
    */
  def weakLabels(docs: DataFrame): DataFrame =
    weakLabelsOn(docs).orderBy(col("doc_id"))

  /** [[weakLabels]] without the final sort — the transform itself is a
    * stateless per-row projection, so the SAME plan runs per
    * micro-batch under Structured Streaming (the `stream_weak_labels`
    * gate) where a global sort is neither possible nor meaningful.
    */
  def weakLabelsOn(docs: DataFrame): DataFrame = {
    val w = TextAnalysis.whitespaceTokens(col("text"))
    docs.select(col("doc_id"), col("n_chars"),
        size(w).cast("long").as("nt"),
        size(array_distinct(w)).cast("long").as("nd"),
        size(filter(w, t => length(t) >= 3)).cast("long").as("nl"))
      .withColumn("r1", when(col("nt") >= 20, 1)
        .when(col("nt") < 5, -1).otherwise(0))
      .withColumn("__dr", expr("nd * 1000000 div nt"))
      .withColumn("r2", when(col("__dr") >= 700000, 1)
        .when(col("__dr") < 300000, -1).otherwise(0))
      .withColumn("__lr", expr("nl * 1000000 div nt"))
      .withColumn("r3", when(col("__lr") >= 600000, 1)
        .when(col("__lr") < 200000, -1).otherwise(0))
      .withColumn("__al", expr("n_chars div nt"))
      .withColumn("r4", when(col("__al").between(3, 12), 1)
        .when(col("__al") > 20, -1).otherwise(0))
      .withColumn("__s", col("r1") + col("r2") + col("r3") + col("r4"))
      .withColumn("__nv",
        abs(col("r1")) + abs(col("r2")) + abs(col("r3")) + abs(col("r4")))
      .withColumn("weak_label",
        expr("CASE WHEN __s > 0 THEN 1 WHEN __s < 0 THEN -1 ELSE 0 END"))
      .withColumn("confidence_micro",
        when(col("__nv") > 0, expr("abs(__s) * 1000000 div __nv"))
          .otherwise(lit(0L)))
      .select(col("doc_id"), col("r1"), col("r2"), col("r3"), col("r4"),
        col("weak_label"), col("confidence_micro"))
  }

  /** Pairwise labeling-function agreement — Cohen's kappa over every
    * LF pair, the audit a label model runs BEFORE trusting
    * [[weakLabels]]'s votes: high raw agreement with low kappa means
    * the functions agree only because the class prior is lopsided
    * (chance agreement), i.e. the rules add no independent signal;
    * near-zero or negative kappa on a pair flags a rule that should be
    * dropped or inverted. Kappa is computed on the docs where BOTH
    * functions VOTE (abstentions excluded — the Snorkel convention:
    * agreement over shared coverage, not over silence).
    *
    * Engine-exactness, the cross-multiplication discipline: kappa =
    * (po − pe)/(1 − pe) is emitted as the SIGNED numerator
    * `kappa_num = po_micro − pe_micro` and non-negative denominator
    * `kappa_den = 1e6 − pe_micro` — never divided, because a negative
    * kappa under Spark's truncating `div` and DuckDB's flooring `//`
    * diverges on every negative value (the embed_center_binarize
    * lesson). All marginals are micro-rates (`x·1e6 div n_both`,
    * operands non-negative), so every product is ≤ 1e12 and NOTHING
    * scales with corpus size — no overflow bound needed at any SF
    * (the count-product spelling of pe needs N², dead at ~3e9 docs).
    *
    * 100 TB shape: the LF pair domain is STATIC (6 pairs for 4 rules),
    * so the pairing is IN-ROW — each doc explodes to its ≤6
    * both-voting pair rows from one projection, then ONE map-side
    * combinable aggregate lands the 6-row table. No self-join: the
    * relational spelling (unpivot → join on doc_id) re-scans and
    * re-tokenizes the corpus once per side and shuffles 4 rows/doc to
    * co-locate what was never apart; this plan is one scan, one
    * exchange carrying 6 partial rows per task.
    */
  def labelAgreement(docs: DataFrame): DataFrame = {
    val lfs = Seq("r1", "r2", "r3", "r4")
    val pairCols = for {
      (a, i) <- lfs.zipWithIndex; b <- lfs.drop(i + 1)
    } yield struct(lit(a).as("lf_a"), lit(b).as("lf_b"),
      col(a).as("va"), col(b).as("vb"))
    weakLabelsOn(docs)
      .select(explode(array(pairCols: _*)).as("p"))
      .select(col("p.lf_a").as("lf_a"), col("p.lf_b").as("lf_b"),
        col("p.va").as("va"), col("p.vb").as("vb"))
      .filter(col("va") =!= 0 && col("vb") =!= 0)
      .groupBy(col("lf_a"), col("lf_b"))
      .agg(
        count(lit(1)).as("n_both"),
        sum(when(col("va") === col("vb"), 1L).otherwise(0L)).as("n_agree"),
        sum(when(col("va") === 1, 1L).otherwise(0L)).as("na_pos"),
        sum(when(col("vb") === 1, 1L).otherwise(0L)).as("nb_pos"))
      .withColumn("po_micro", expr("n_agree * 1000000 div n_both"))
      .withColumn("pa_pos", expr("na_pos * 1000000 div n_both"))
      .withColumn("pb_pos", expr("nb_pos * 1000000 div n_both"))
      .withColumn("pe_micro", expr(
        """(pa_pos * pb_pos +
           (1000000 - pa_pos) * (1000000 - pb_pos)) div 1000000"""))
      .select(col("lf_a"), col("lf_b"), col("n_both"), col("n_agree"),
        col("po_micro"), col("pe_micro"),
        (col("po_micro") - col("pe_micro")).as("kappa_num"),
        (lit(1000000L) - col("pe_micro")).as("kappa_den"))
      .orderBy(col("lf_a"), col("lf_b"))
  }
}
