package graft.operators

import graft.Engine.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-budget shard packing and fixed-length sequence packing — the
  * "lay the shuffled corpus out as one global token stream and cut it
  * up" steps at the tail of a training-data pipeline. Documents are laid
  * out in a deterministic shuffled order (order key is
  * md5(salt ++ doc_id)), token counts accumulate, and the cut points are
  * pure arithmetic on the running total — so the same corpus packs into
  * the same shards/sequences on any cluster.
  *
  * The naive formulation is `sum(tok) OVER (ORDER BY skey)` — a GLOBAL
  * ordered window, which Spark executes as a single task holding the
  * whole corpus: a non-starter at 100 TB. This runs the textbook
  * two-level distributed prefix sum instead, with a twist that keeps it
  * deterministic: the partition id is the FIRST HEX BYTE of the md5
  * order key itself (256 buckets), so bucket order == global key order
  * by construction — range partitioning with no sampled boundaries, no
  * `spark_partition_id()` nondeterminism, nothing to re-plan.
  *
  *   1. per-bucket running sums — 256 balanced ordered windows (md5
  *      bytes are uniform, each holds ~1/256 of the corpus);
  *   2. per-bucket totals → exclusive prefix offsets via an ordered
  *      window over just 256 rows (trivial at any corpus size);
  *   3. broadcast-join offsets back; global cumsum = local + offset.
  *
  * Fully lazy — no driver-side collect — and every stage is bounded:
  * the only global ordered window in the plan touches 256 rows.
  */
object Packing {

  /** (doc_id, keys…, tok, off) for every document: `tok` its whitespace
    * token count, `off` the EXCLUSIVE prefix sum — the index of the
    * doc's first token in the deterministic token stream of its `keys`
    * group (global stream when `keys` is empty). The two-level prefix
    * sum documented on the object, run independently per key group (the
    * 256 md5 buckets nest INSIDE each group, so a group's windows stay
    * balanced no matter how skewed the groups are); shared by
    * [[packShards]], [[packSequences]] and [[mixBudget]]. Key columns
    * must be non-null (the offset join is a USING join).
    */
  private def tokenOffsets(docs: DataFrame, salt: String,
      keys: Seq[String] = Nil): DataFrame = {
    val keyCols = keys.map(col)
    val tok = TextAnalysis.tokenCount(col("text"))
    val skey = md5(concat(lit(salt), col("doc_id").cast("string")))
    val base = docs
      .select(keyCols :+ col("doc_id") :+ tok.as("tok") :+ skey.as("skey"): _*)
      .withColumn("pid", conv(substring(col("skey"), 1, 2), 16, 10).cast("int"))
      // pid is never null in practice; filtering explicitly puts the
      // SAME isnotnull(pid) the inner join pushes into branch A into
      // branch B too, so the two pid-exchange subtrees canonicalize
      // equal and ReuseExchange reads the corpus once
      .filter(col("pid").isNotNull)
    val withLocal = base.withColumn("cum_local",
      sum(col("tok")).over(
        Window.partitionBy(keyCols :+ col("pid"): _*)
          .orderBy(col("skey"), col("doc_id"))))
    // bucket totals come from the WINDOWED frame (a bucket's total = its
    // max running sum), not from re-aggregating `base`: both branches
    // then share the scan→tokenize→md5→shuffle(pid) subtree, which Spark
    // reuses (ReusedExchange) instead of reading the corpus twice.
    val ptots = withLocal
      .groupBy(keyCols :+ col("pid"): _*).agg(max(col("cum_local")).as("ptot"))
    // grouped → ordinary partitioned window; global (no keys) → the
    // ≤ 256-row pid-bucket table goes through a BoundedGlobal pass
    // (loud bound, no unpartitioned window)
    val offsets = (if (keyCols.nonEmpty)
        ptots.withColumn("poff", coalesce(
          sum(col("ptot")).over(
            Window.partitionBy(keyCols: _*).orderBy(col("pid"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      else
        BoundedGlobal.withPrefixSum(ptots, Seq(col("pid")), "ptot", "poff",
          includeCurrent = false, maxRows = 256L, "tokenOffsets pid buckets"))
      .select(keyCols :+ col("pid") :+ col("poff"): _*)
    withLocal
      .join(broadcast(offsets), keys :+ "pid")
      .select(keyCols :+ col("doc_id") :+ col("tok") :+
        (col("cum_local") + col("poff") - col("tok")).as("off"): _*)
  }

  /** Per-shard packing summary: shard id, documents packed into it and
    * their total token count. A document whose first token falls in
    * `[k·budget, (k+1)·budget)` opens or joins shard k. `docs` needs
    * (doc_id, text).
    */
  def packShards(docs: DataFrame, budget: Long,
      salt: String = "pack:"): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    tokenOffsets(docs, salt)
      // shard of a doc = how many full budgets precede its first token
      .withColumn("shard_id", expr(s"off div $budget"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
      .orderBy(col("shard_id"))
  }

  def packShardsDocs(spark: SparkSession, dir: String,
      budget: Long = 512L): DataFrame =
    packShards(Tables(spark, dir).documents, budget)

  /** Length-bucketed batch packing — the padding-waste fix every
    * training loader applies: docs are classed into length buckets
    * (boundaries in tokens), then packed into `budget`-token batches
    * WITHIN their bucket, so a batch never mixes a 10-token doc with a
    * 300-token one and pad-to-longest stays cheap. Batch membership is
    * the same deterministic md5-ordered prefix sum as [[packShards]],
    * run per bucket through [[tokenOffsets]]'s keyed two-level
    * machinery — the 256 hash buckets nest inside each length bucket,
    * so the skewed-bucket case (most docs mid-length) never serializes
    * into one window task.
    */
  def lengthBatches(docs: DataFrame, budget: Long,
      bounds: Seq[Long] = Seq(64L, 128L, 256L),
      salt: String = "lb:"): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    require(bounds == bounds.sorted && bounds.distinct == bounds,
      s"bucket bounds must be strictly increasing, got $bounds")
    val tok = TextAnalysis.tokenCount(col("text"))
    val bucket = bounds.zipWithIndex.foldRight(
      lit(bounds.length).cast("int"): Column) { case ((b, i), acc) =>
      when(tok < b, lit(i).cast("int")).otherwise(acc)
    }
    tokenOffsets(docs.withColumn("bucket", bucket), salt, Seq("bucket"))
      .withColumn("batch_id", expr(s"off div $budget"))
      .select(col("doc_id"), col("bucket"), col("batch_id"), col("tok"))
      .orderBy(col("doc_id"))
  }

  def lengthBatchesDocs(spark: SparkSession, dir: String,
      budget: Long): DataFrame =
    lengthBatches(Tables(spark, dir).documents, budget)

  /** Padding-waste audit — the dashboard number that justifies (or
    * refutes) length-bucketed batching for a given corpus: under a
    * pad-to-longest loader, a batch wastes `max(len)·n_docs − Σlen`
    * tokens, so the audit packs the SAME deterministic md5-ordered doc
    * stream twice — naively (one global stream, [[lengthBatches]]'
    * batching with no buckets) and length-bucketed ([[lengthBatches]]
    * verbatim) — and rolls each strategy up to total real vs padded
    * tokens with the waste rate as an exact integer micro-rate. One
    * shared salt so the comparison isolates the BUCKETING decision, not
    * the ordering; all integer arithmetic (`max·n − Σ` per batch is
    * bounded by batch size × max doc length, far below 2^63).
    *
    * Scale shape: both packings are the keyed two-level prefix-sum
    * machinery ([[tokenOffsets]] — no global window), and each rollup
    * is two nested algebraic aggregates; nothing wider than
    * (batch, 3 longs) ever shuffles.
    */
  def packEfficiency(docs: DataFrame, budget: Long,
      bounds: Seq[Long] = Seq(64L, 128L, 256L),
      salt: String = "lb:"): DataFrame = {
    def rollup(batches: DataFrame, strategy: String, keys: Seq[String]) =
      batches.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("real_tok"),
          max(col("tok")).as("max_tok"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("real_tok")).as("tokens_real"),
          sum(col("max_tok") * col("n_docs") - col("real_tok"))
            .as("tokens_padded"))
        .select(lit(strategy).as("strategy"), col("n_batches"),
          col("tokens_real"), col("tokens_padded"),
          expr("tokens_padded * 1000000 div (tokens_real + tokens_padded)")
            .as("waste_micro"))
    val bucketed = rollup(lengthBatches(docs, budget, bounds, salt),
      "bucketed", Seq("bucket", "batch_id"))
    val naive = rollup(
      tokenOffsets(docs, salt)
        .withColumn("batch_id", expr(s"off div $budget")),
      "naive", Seq("batch_id"))
    bucketed.unionByName(naive).orderBy(col("strategy"))
  }

  def packEfficiencyDocs(spark: SparkSession, dir: String,
      budget: Long): DataFrame =
    packEfficiency(Tables(spark, dir).documents, budget)

  /** GPT-style training-sequence packing: the global token stream is cut
    * into back-to-back sequences of EXACTLY `seqLen` tokens, documents
    * crossing a boundary are split (no padding, no discarded remainder
    * except the final partial sequence a trainer would drop or pad).
    * One row per (sequence, document) span:
    *
    *   - `seq_id`    — which sequence the span lands in
    *   - `doc_id`    — which document it comes from
    *   - `doc_start` — first token of the span, 0-based WITHIN the doc
    *   - `seq_start` — where the span begins WITHIN the sequence
    *   - `n_toks`    — span length
    *
    * so `(seq_id, seq_start)` tiles every sequence exactly and
    * `(doc_id, doc_start)` tiles every document exactly — the spec
    * asserts both invariants. Downstream, a trainer materializes
    * sequence k by concatenating its spans in `seq_start` order.
    *
    * Scale shape: the two-level prefix sum above (no global window),
    * then a per-row `explode(sequence(first_seq, last_seq))` whose
    * fan-out is ⌈tok/seqLen⌉+1 per doc — output volume is proportional
    * to corpus tokens / seqLen, never quadratic, and the arithmetic is
    * all codegen'd column expressions.
    */
  def packSequences(docs: DataFrame, seqLen: Long,
      salt: String = "pack:"): DataFrame = {
    require(seqLen > 0, s"sequence length must be positive, got $seqLen")
    val L = lit(seqLen)
    val start = greatest(col("off"), col("seq_id") * L)
    val end = least(col("off") + col("tok"), (col("seq_id") + lit(1L)) * L)
    tokenOffsets(docs, salt)
      .withColumn("seq_id", explode(sequence(
        expr(s"off div $seqLen"), expr(s"(off + tok - 1) div $seqLen"))))
      .select(
        col("seq_id"),
        col("doc_id"),
        (start - col("off")).as("doc_start"),
        (start - col("seq_id") * L).as("seq_start"),
        (end - start).as("n_toks"))
      .orderBy(col("seq_id"), col("doc_id"))
  }

  def packSequencesDocs(spark: SparkSession, dir: String,
      seqLen: Long = 256L): DataFrame =
    packSequences(Tables(spark, dir).documents, seqLen)

  /** Per-sequence ATTENTION-MASK metadata for the packed layout — what a
    * trainer actually consumes next to the token buffer: packing without
    * block-diagonal masking lets documents attend across their shared
    * sequence, the classic packing bug. Per seq_id: segment count, used
    * tokens, padding (non-zero only on the final partial sequence — every
    * interior sequence tiles exactly), and an md5 digest of the ordered
    * `seq_start:n_toks` boundary list (the repo's array-gating technique —
    * the digest pins every block edge of the mask).
    *
    * Scale shape: one rollup of [[packSequences]]' segment table on
    * seq_id with map-side partials; segments per sequence are bounded by
    * seqLen (each segment is ≥ 1 token), so collect_list is bounded.
    */
  def packMasks(docs: DataFrame, seqLen: Long,
      salt: String = "pack:"): DataFrame = {
    packSequences(docs, seqLen, salt)
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(col("n_toks")).as("n_toks_used"),
        md5(concat_ws(",", expr(
          """transform(array_sort(collect_list(struct(seq_start, n_toks, doc_id))),
             s -> concat(CAST(s.seq_start AS STRING), ':',
                         CAST(s.n_toks AS STRING)))""")))
          .as("segments_digest"))
      .withColumn("n_pad", lit(seqLen) - col("n_toks_used"))
      .select(col("seq_id"), col("n_segments"), col("n_toks_used"),
        col("n_pad"), col("segments_digest"))
      .orderBy(col("seq_id"))
  }

  def packMasksDocs(spark: SparkSession, dir: String,
      seqLen: Long = 256L): DataFrame =
    packMasks(Tables(spark, dir).documents, seqLen)

  /** Token-budget data mixture: admit documents per mixture key (here:
    * language) in the deterministic shuffled order until the key's token
    * budget is spent — the "X billion tokens of each language/domain"
    * step that assembles a training mix from an over-supplied corpus. A
    * document is admitted when its first token falls inside the budget
    * (the open-at-offset rule [[packShards]] uses), so every key admits
    * at least one document and the overshoot is bounded by one document.
    * Determinism: same md5-salted order as all layout operators —
    * re-running the mixture on the same corpus admits the same docs on
    * any cluster, and raising the budget only ADDS documents (the
    * admission order is budget-independent), which is what makes
    * mixtures reproducible and monotonically extendable.
    *
    * Scale shape: the per-key running total is the keyed two-level
    * prefix sum of [[tokenOffsets]] — 256 balanced sub-windows per key
    * regardless of key skew (a 90%-English corpus still never puts a
    * language in one task), offsets broadcast back, and the budget test
    * is a pushed-down scalar filter. No global window, no collect.
    */
  def mixBudget(docs: DataFrame, budget: Long, key: String = "lang",
      salt: String = "mix:"): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    tokenOffsets(docs.select(col("doc_id"), col(key), col("text")),
        salt, Seq(key))
      .filter(col("off") < budget)
      .select(col("doc_id"), col(key), col("tok"), col("off"))
      .orderBy(col("doc_id"))
  }

  def mixBudgetDocs(spark: SparkSession, dir: String,
      budget: Long): DataFrame =
    mixBudget(Tables(spark, dir).documents, budget)
}
