package graft.operators

import graft.Engine.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sentence-aware operators — segmentation, sentence-level exact dedup,
  * and sentence-preserving chunking. Pipeline extensions in the SURVEY
  * §7.2-M6 family: corpus hygiene at SENTENCE granularity is standard
  * LLM-data practice (boilerplate sentences repeat across documents that
  * are nowhere near document-level duplicates, and context-window packing
  * wants chunk boundaries that don't cut sentences in half).
  *
  * The driver fixtures are flat word streams with no punctuation, so the
  * family starts from an IN-PLAN synthesized punctuated corpus
  * ([[sentenced]]) — the `snapshot_diff` technique: derive the structured
  * input deterministically inside the plan, so the DuckDB oracle can
  * derive the identical corpus and the operators under test stay fully
  * hash-gated. The operators themselves ([[sentenceSegment]] and up) run
  * on ANY text with `[.!?]` sentence punctuation; only the `sentenced`
  * synthesizer is fixture-specific.
  *
  * 100 TB shape: synthesis and segmentation are pure per-row scalar
  * expressions (scan-fused, zero shuffles); dedup is one aggregate on the
  * sentence digest (map-side partials absorb hot boilerplate sentences —
  * deliberately NOT a window partitioned by the sentence, which would put
  * a million-document boilerplate sentence in one task) plus a digest-
  * keyed join; chunking windows partition by doc_id — balanced by
  * construction.
  */
object Sentences {

  /** Average synthesized sentence length: token i ends a sentence when
    * md5_60("sent:" ++ token ++ ":" ++ i) ≡ 0 (mod this).
    */
  val SentenceEvery = 6

  /** In-plan sentence-punctuation synthesis over a flat-word corpus: a
    * deterministic ~1/[[SentenceEvery]] of token positions get a
    * terminal "." (the last token always does). The boundary gate hashes
    * (token, position) — NOT doc_id — so identical or near-identical
    * texts synthesize identical sentences, which is exactly the
    * structure sentence-level dedup exists to detect. Pure scalar
    * higher-order transform: zero shuffles.
    */
  def sentenced(docs: DataFrame): DataFrame = {
    val w = TextAnalysis.whitespaceTokens(col("text"))
    val punct = transform(w, (t, i) =>
      concat(t, when(
        TextAnalysis.md5_60(concat(lit("sent:"), t, lit(":"), (i + 1).cast("string")))
          % SentenceEvery === 0 || (i + 1) === size(w),
        lit(".")).otherwise(lit(""))))
    docs.select(col("doc_id"), array_join(punct, " ").as("text"))
  }

  /** Sentence segmentation: split `text` into `[.!?]`-terminated
    * sentences, one output row per (doc, sentence) with a 1-based
    * `sent_id` and the sentence's token count. The extraction regex
    * `[^.!?]+[.!?]?` needs no lookbehind (portable to RE2-family
    * engines, DuckDB included); sentences are trimmed of the inter-
    * sentence whitespace. Scan-fused posexplode — the only shuffle in
    * the gated entry is the presentation sort.
    */
  def sentenceSegment(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(regexp_extract_all(col("text"),
          lit("[^.!?]+[.!?]?"), lit(0))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("sent_id"),
        trim(col("col")).as("sentence"))
      .withColumn("n_tokens",
        size(split(col("sentence"), "\\s+")).cast("long"))

  /** Sentence-level exact dedup decision table over a segmented table
    * ([[sentenceSegment]] output): every sentence keeps or drops by
    * first-occurrence ((doc_id, sent_id) order) of its NORMALIZED form
    * (lowercase, terminal punctuation stripped). The decision is an
    * aggregate on the full-128-bit md5 of the normalized sentence (the
    * repo's text-identity standard) followed by a digest-keyed join.
    *
    * The segmented table feeds BOTH sides of the decision (the
    * first-occurrence aggregate and the probe join). Both read ONE
    * digest-keyed shuffle of it: the rows are repartitioned by h up
    * front, and both consumers reference the same four columns (which
    * is why `n_tokens` rides in the min struct — it never decides the
    * min, since (doc_id, sent_id) is unique), so the second exchange is
    * a reused one and synthesis + segmentation run once. The aggregate
    * and the join then need no further shuffle; a boilerplate sentence
    * repeated across millions of documents streams through one sorted
    * aggregate and one join, never a buffered window.
    */
  def sentenceDedupFrom(segmented: DataFrame): DataFrame = {
    val row = struct(col("doc_id"), col("sent_id"), col("n_tokens"))
    val sents = segmented
      .select(col("doc_id"), col("sent_id"), col("n_tokens"),
        md5(lower(regexp_replace(col("sentence"), "[.!?]+$", ""))).as("h"))
      .repartition(col("h"))
    val firsts = sents.groupBy(col("h")).agg(min(row).as("first"))
    sents.join(firsts, Seq("h"))
      .withColumn("keep", (row === col("first")).cast("int"))
      .select(col("doc_id"), col("sent_id"), col("n_tokens"), col("keep"))
      .orderBy(col("doc_id"), col("sent_id"))
  }

  /** Default token budget for the gated sentence-chunking entry. */
  val ChunkBudget = 32L

  /** Sentence-preserving chunking of a segmented table
    * ([[sentenceSegment]] output): consecutive sentences pack into
    * chunks of ~`budget` tokens; a sentence belongs to the chunk its
    * START offset falls in (chunk_id = tokens-before div budget), so no
    * sentence is ever split — a chunk may overflow by at most one
    * sentence tail, the standard trade for boundary-clean training
    * windows. Start-offset bucketing (rather than a greedy reset
    * counter) keeps the rule one running sum — expressible identically
    * in any engine, no per-doc recursion. Emits per-chunk sentence/token
    * counts and the portable md5-60 digest of the chunk text
    * (sentences joined in sent_id order — rebuilt deterministically via
    * sort_array, since collect_list order is not guaranteed).
    *
    * Windows partition by doc_id (balanced); the rollup is an ordinary
    * groupBy. Output rows = chunks, ~corpus_tokens/budget.
    */
  def sentenceChunksFrom(segmented: DataFrame,
      budget: Long = ChunkBudget): DataFrame = {
    require(budget > 0, s"chunk budget must be positive, got $budget")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("sent_id"))
    segmented
      .withColumn("__sc_before", coalesce(
        sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("chunk_id", expr(s"__sc_before div $budget"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_sents"),
        sum(col("n_tokens")).as("n_tokens"),
        array_join(expr(
          "transform(sort_array(collect_list(struct(sent_id, sentence))), x -> x.sentence)"),
          " ").as("__sc_text"))
      .withColumn("chunk_md5_60", TextAnalysis.md5_60(col("__sc_text")))
      .select(col("doc_id"), col("chunk_id"), col("n_sents"),
        col("n_tokens"), col("chunk_md5_60"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  def segmentDocs(spark: SparkSession, dir: String): DataFrame =
    sentenceSegment(sentenced(Tables(spark, dir).documents))
      .orderBy(col("doc_id"), col("sent_id"))

  def dedupDocs(spark: SparkSession, dir: String): DataFrame =
    sentenceDedupFrom(sentenceSegment(sentenced(Tables(spark, dir).documents)))

  def chunksDocs(spark: SparkSession, dir: String): DataFrame =
    sentenceChunksFrom(sentenceSegment(sentenced(Tables(spark, dir).documents)))
}
