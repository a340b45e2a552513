package graft.operators

import graft.Engine.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` — language ID, quality
  * scoring, token counting, fingerprinting (pipeline extensions,
  * SURVEY.md §7.2-M6). Everything is built from codegen'd built-ins so
  * the whole stage fuses, except winnowing and text normalization, which
  * are native kernels ([[graft.functions.WinnowFps]],
  * [[graft.functions.NormText]]) called from the generated code — still
  * zero UDFs.
  */
object TextAnalysis {

  /** Per-document surface statistics: token count (whitespace), a BPE-ish
    * subword proxy count (alnum runs + isolated punctuation — the classic
    * pre-tokenizer regex), char count, distinct-token count and punctuation
    * count. All integers → engine-exact.
    */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    val toks = whitespaceTokens(col("text"))
    Tables(spark, dir).documents
      .select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct_tokens"),
        size(expr("regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\\\s]', 0)")).as("n_subwords"),
        length(col("text")).as("n_chars_measured"),
        (length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?]", ""))).as("n_punct"))
      .orderBy(col("doc_id"))
  }

  /** Repetition metrics (the Gopher/MassiveText repetition filters): per
    * document, the duplicate-word fraction, duplicate-bigram fraction and
    * the occurrence count of the most-repeated bigram. Everything is
    * computed INSIDE the row's token array with higher-order functions —
    * `array_distinct` for the duplicate fractions and a sorted-array
    * longest-run fold for the top-bigram count (O(n log n) per doc, no
    * quadratic all-pairs scan) — so the operator is a narrow map over the
    * corpus: zero shuffles at any scale, and corpus-size-independent
    * memory per row.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val toks = whitespaceTokens(col("text"))
    Tables(spark, dir).documents
      .select(col("doc_id"), toks.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("w"),
        expr("transform(sequence(0, size(w) - 2), i -> concat_ws(' ', w[i], w[i + 1]))").as("bg"))
      .select(
        col("doc_id"),
        size(col("w")).as("n_words"),
        round(lit(1.0) - size(array_distinct(col("w"))).cast("double") / size(col("w")), 4)
          .as("dup_word_frac"),
        round(lit(1.0) - size(array_distinct(col("bg"))).cast("double") / size(col("bg")), 4)
          .as("dup_bigram_frac"),
        expr("""aggregate(sort_array(bg),
                  named_struct('prev', '', 'run', 0, 'best', 0),
                  (a, x) -> named_struct(
                    'prev', x,
                    'run',  CASE WHEN x = a.prev THEN a.run + 1 ELSE 1 END,
                    'best', greatest(a.best,
                              CASE WHEN x = a.prev THEN a.run + 1 ELSE 1 END)),
                  a -> CAST(a.best AS BIGINT))""").as("top_bigram_n"))
      .orderBy(col("doc_id"))
  }

  /** Shared ratio building blocks — ONE definition feeding qualityScore,
    * filterCascade and their oracles, so the tokenizer/regex can never
    * drift between the score and the filter verdicts. The char
    * denominator is `greatest(length, 1)`: an empty document must yield
    * ratio 0, not a DIVIDE_BY_ZERO under Spark 4's default ANSI mode
    * (token denominators are safe — split of '' is [''], size ≥ 1).
    */
  private def qtToks = whitespaceTokens(col("text"))
  private[graft] def alphaRatioExpr: Column =
    length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("double") /
      greatest(length(col("text")), lit(1)).cast("double")
  private[graft] def distinctRatioExpr: Column =
    size(array_distinct(qtToks)).cast("double") / size(qtToks).cast("double")

  /** Quality score in [0,1]: mean of three ratio heuristics — distinct
    * token ratio, alpha-char ratio, short-token penalty. Emitted as exact
    * integer numerators/denominator plus the rounded score so the oracle
    * compares integers and one rounded ratio.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = qtToks
    val nTok = size(toks).cast("double")
    val nLong = size(filter(toks, t => length(t) >= 3)).cast("double")
    Tables(spark, dir).documents
      .select(col("doc_id"),
        round((distinctRatioExpr + alphaRatioExpr + nLong / nTok) / 3.0, 4).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Language ID by marker-token vote: count hits of each language's
    * high-frequency word list (plus a CJK-codepoint check for zh); argmax
    * with deterministic tiebreak (hit count desc, language code asc),
    * 'und' when nothing matches. A real system would use char-n-gram
    * profiles; the *shape* — per-language score columns then argmax — is
    * identical and the logic is exactly replicable in the SQL oracle.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val markers = Map(
      "en" -> Seq("the", "and", "of", "to", "in", "is", "a"),
      "fr" -> Seq("le", "la", "les", "des", "et", "une"),
      "es" -> Seq("el", "los", "las", "que", "y", "una"),
      "de" -> Seq("der", "die", "das", "und", "ein", "nicht"))
    val toks = whitespaceTokens(col("text"))
    def hits(ws: Seq[String]): Column =
      size(filter(toks, t => t.isin(ws.map(lit): _*)))
    val scored = Tables(spark, dir).documents.select(
      col("doc_id"),
      hits(markers("en")).as("s_en"),
      hits(markers("fr")).as("s_fr"),
      hits(markers("es")).as("s_es"),
      hits(markers("de")).as("s_de"),
      size(expr("regexp_extract_all(text, '[\\\\x{4e00}-\\\\x{9fff}]', 0)")).as("s_zh"))
    val best = greatest(col("s_en"), col("s_fr"), col("s_es"), col("s_de"), col("s_zh"))
    scored
      .withColumn("lang_pred",
        when(best === 0, "und")
          .when(col("s_de") === best, "de") // asc tiebreak: de < en < es < fr < zh
          .when(col("s_en") === best, "en")
          .when(col("s_es") === best, "es")
          .when(col("s_fr") === best, "fr")
          .otherwise("zh"))
      .select(col("doc_id"), col("lang_pred"), col("s_en"), col("s_zh"))
      .orderBy(col("doc_id"))
  }

  /** 60-bit md5-derived hash of a string column — the engine-portable
    * digest used wherever a fingerprint must be reproducible outside
    * Spark (DuckDB/Trino/Postgres all evaluate the identical bytes:
    * `('0x' || substr(md5(x),1,15))::BIGINT`). 15 hex chars keep the
    * value positive in a signed 64-bit long on every engine.
    */
  private[graft] def md5_60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The one whitespace tokenization of a text column: SQL `trim` strips
    * ASCII spaces only (never \t/\n/\r) and SQL `split` keeps leading and
    * trailing empty tokens. The native n-gram kernels restate it
    * ([[graft.functions.NgramAnyIn.sqlWhitespaceTokens]]), and the DuckDB
    * oracles spell it `regexp_split_to_array(trim(text), '\s+')`.
    */
  private[graft] def whitespaceTokens(text: Column): Column = split(trim(text), "\\s+")

  /** The [[whitespaceTokens]] count as a bigint. */
  private[graft] def tokenCount(text: Column): Column = size(whitespaceTokens(text)).cast("long")

  /** Document fingerprint: 60-bit md5 digest over the raw text (whole-doc
    * fingerprint) and over the sorted token multiset (order-insensitive
    * "bag fingerprint" — catches shuffled near-copies). Both digests are
    * engine-portable ([[md5_60]]), so the driver hash-compares them
    * against DuckDB bit-for-bit.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(
        col("doc_id"),
        md5_60(col("text")).as("fp"),
        md5_60(concat_ws(" ", sort_array(whitespaceTokens(col("text"))))).as("bag_fp"))
      .orderBy(col("doc_id"))

  /** Winnowing fingerprints (the MOSS scheme): hash every k-char gram,
    * slide a window of w consecutive gram hashes, keep each window's
    * minimum — guarantees any shared substring of length ≥ w+k-1 yields a
    * shared fingerprint, with ~2/(w+1) selection density. Entirely
    * Catalyst (transform() passes + explode), so it fuses into the scan;
    * emitted as (doc_id, fp) distinct rows — group by fp to find
    * cross-document substring reuse at corpus scale.
    *
    * The gram hash is a degree-(k-1) polynomial over the code points,
    * base 257 mod 1e9+7 — pure integer arithmetic any engine evaluates
    * identically, which is what makes the full pipeline
    * DuckDB-oracle-checkable. Hash quality only has to break ties among
    * ~w candidate grams per window; a 30-bit polynomial is plenty.
    *
    * The whole per-document pass — code-point decode, rolling gram
    * hashes, window minima, distinct — is ONE native codegen expression
    * ([[graft.functions.WinnowFps]]): a single primitive-array O(n) loop
    * in the scan stage. Distinctness established inside the row also
    * means no `dropDuplicates` exchange afterwards — the operator is
    * completely shuffle-free (measured 4.0 s → ~0.4 s at sf0.1 vs the
    * declarative three-`transform` + dropDuplicates formulation).
    */
  def winnow(docs: DataFrame, k: Int = 5, w: Int = 4): DataFrame =
    docs
      .filter(length(col("text")) >= k + w - 1)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFps.winnowFps(col("text"), k, w)).as("fp"))

  // ------------------------------------------------------------ PII scrub

  /** Patterns shared by Java regex (Spark) and RE2 (DuckDB, for the
    * oracle): character classes, non-capturing groups and `\b` behave
    * identically on both engines for these shapes.
    */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  private[graft] val Ipv4Re  = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** PII redaction over an arbitrary text column: counts each PII class,
    * then masks them (emails first — their domains contain dots that
    * could otherwise half-match the IP pattern's context). Entirely
    * codegen'd `regexp_count`/`regexp_replace` built-ins, so the scrub
    * fuses into the scan: a narrow map with zero shuffles at any corpus
    * size — the shape a 100 TB pre-training scrub pass needs.
    */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    val c = col(textCol)
    df.withColumn("n_emails", regexp_count(c, lit(EmailRe)))
      .withColumn("n_phones", regexp_count(c, lit(PhoneRe)))
      .withColumn("n_ips",    regexp_count(c, lit(Ipv4Re)))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(c, EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          Ipv4Re, "<IP>"))
  }

  /** Gated fixture for [[redactPii]]: the synthetic corpus contains no
    * PII, so a deterministic PII layer (email+phone for doc_id%3==0, an
    * IP for %3==1, nothing for %3==2 — all derived from doc_id/source)
    * is overlaid first, then scrubbed. Output is the per-class counts
    * plus the portable digest of the redacted text, so the oracle
    * verifies the masked BYTES, not just the counts.
    */
  def piiRedactDocs(spark: SparkSession, dir: String): DataFrame = {
    val pii = when(col("doc_id") % 3 === 0,
        concat(lit("reach user"), col("doc_id").cast("string"), lit("@"),
          col("source"), lit(".example.com or 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" re: "), col("text")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("server 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7 logged: "), col("text")))
      .otherwise(col("text"))
    redactPii(
        Tables(spark, dir).documents.select(col("doc_id"), pii.as("pii_text")),
        "pii_text")
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        md5_60(col("redacted")).as("red_fp"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------- sequence chunking

  /** Default chunk geometry — interpolated into the DuckDB oracle too,
    * so the two sides can't drift. */
  val ChunkTokens = 32
  val ChunkStride = 24

  /** Stride chunking — cut each document into fixed-size token windows
    * with overlap (`chunkTokens` wide, advancing `stride` tokens), the
    * context-window packing step before tokenization in a pre-training /
    * RAG pipeline. A doc with n tokens yields 1 + ⌈max(0, n-C)/S⌉
    * chunks; the final chunk may be short, every token lands in ≥ 1
    * chunk, and consecutive chunks share C-S tokens of context.
    *
    * Entirely inside the row — `transform` over a `sequence` of chunk
    * starts, then `posexplode` — so the operator is a narrow scan-fused
    * generator: zero shuffles, memory per row bounded by the doc itself.
    * Emits the chunk's token count and portable digest (not the text) so
    * the gate hash-compares bytes without shipping the corpus twice.
    */
  def docChunks(docs: DataFrame, chunkTokens: Int = ChunkTokens,
      stride: Int = ChunkStride): DataFrame = {
    require(chunkTokens > 0 && stride > 0 && stride <= chunkTokens,
      s"need 0 < stride <= chunkTokens, got stride=$stride chunk=$chunkTokens")
    val (c, s) = (chunkTokens, stride)
    docs
      .select(col("doc_id"), whitespaceTokens(col("text")).as("w"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
              sequence(0, CASE WHEN size(w) <= $c THEN 0
                               ELSE ($s - 1 + size(w) - $c) div $s END),
              i -> concat_ws(' ', slice(w, i * $s + 1, $c)))""")))
      .select(
        col("doc_id"),
        col("pos").as("chunk_idx"),
        size(split(col("col"), "\\s+")).as("n_chunk_tokens"),
        md5_60(col("col")).as("chunk_fp"))
  }

  // ------------------------------------------------------- n-gram LM stats

  /** Per-language bigram language-model statistics: for each language the
    * top-`topN` bigrams by count, with the prefix (first-word) marginal
    * count alongside — the integer numerator/denominator of the
    * conditional MLE P(w2|w1), kept as exact integers so every engine
    * compares bit-for-bit (the caller divides if it wants floats).
    *
    * Scale shape: bigram expansion is a narrow per-row transform;
    * the (lang,w1,w2) count is the wordcount pattern (map-side partial
    * agg); the prefix marginal is a window over (lang,w1) — millions of
    * partitions, no skew. The per-language final top-N would naively be
    * a 5-partition window over EVERY distinct bigram (one task per
    * language scanning billions of rows at corpus scale), so it runs
    * through [[Ranking.bucketedTopK]] — same result, bounded final
    * task.
    */
  def ngramLm(spark: SparkSession, dir: String, topN: Int = 20): DataFrame = {
    val toks = whitespaceTokens(col("text"))
    val counted = Tables(spark, dir).documents
      .select(col("lang"), toks.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("lang"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i + 1] AS w2))")).as("bg"))
      .select(col("lang"), col("bg.w1"), col("bg.w2"))
      .groupBy(col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_prefix",
        sum(col("n")).over(Window.partitionBy(col("lang"), col("w1"))))
    Ranking.bucketedTopK(counted,
        groupCols = Seq(col("lang")),
        orderCols = Seq(col("n").desc, col("w1"), col("w2")),
        k = topN,
        bucketKeys = Seq(col("w1"), col("w2")))
      .select(col("lang"), col("rk"), col("w1"), col("w2"), col("n"),
        col("n_prefix"))
      .orderBy(col("lang"), col("rk"))
  }

  // ------------------------------------------------- vocabulary coverage

  /** Default vocab size — interpolated into the DuckDB oracle too. */
  val VocabK = 500

  /** Tokenizer-prep vocabulary: the corpus-wide top-`k` whitespace tokens
    * by frequency, each with its rank and the cumulative share of ALL
    * corpus token occurrences covered through that rank — the curve a
    * tokenizer-training / vocab-sizing pass reads to pick |V| ("how many
    * entries until 99% coverage").
    *
    * Scale shape: token counting is the wordcount pattern (partial agg
    * before the shuffle). The global top-k would naively be a
    * single-task window over every distinct token (billions at corpus
    * scale), so it runs through [[Ranking.bucketedTopK]] with a global
    * (empty) group — 64 hash sub-buckets rank in parallel, the exact
    * final window sees ≤ 64·k survivors. The denominator (total token
    * occurrences) folds over the counts table, NOT the corpus — one
    * corpus scan total — and arrives as a scalar subquery so the plan
    * stays lazy. `(cnt DESC, token)` is a total order: token is the
    * group-by key, hence unique.
    */
  def vocabCoverage(docs: DataFrame, k: Int = VocabK): DataFrame = {
    val counts = docs
      .select(explode(whitespaceTokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("t")).scalar()
    val topk = Ranking.bucketedTopK(counts,
      groupCols = Seq.empty,
      orderCols = Seq(col("cnt").desc, col("token")),
      k = k,
      bucketKeys = Seq(col("token")))
    // running coverage over the ≤ k-row top table: a BoundedGlobal pass
    // (loud bound, no unpartitioned window)
    BoundedGlobal.withPrefixSum(topk, Seq(col("rk")), "cnt", "__vc_cum",
        includeCurrent = true, maxRows = k, "vocabCoverage running share")
      .withColumn("cum_share",
        round(col("__vc_cum").cast("double") / total.cast("double"), 6))
      .select(col("rk"), col("token"), col("cnt"), col("cum_share"))
      .orderBy(col("rk"))
  }

  // --------------------------------------------------- filter cascade

  /** Canonicalized-text fingerprints: md5-60 of [[graft.functions
    * .NormText]]-normalized text (NFC + casefold + whitespace collapse),
    * next to the raw fingerprint — the pair a dedup pipeline compares to
    * find casing/encoding near-misses that byte-exact dedup cannot see.
    * Zero shuffles (scalar expressions only).
    */
  def normFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        graft.functions.NormText.normText(col("text")).as("norm"))
      .select(col("doc_id"),
        length(col("norm")).as("n_norm_chars"),
        md5_60(col("norm")).as("norm_fp"))
      .orderBy(col("doc_id"))

  /** Cascade thresholds — interpolated into the DuckDB oracle too. */
  val CascadeMinTokens = 12
  val CascadeMinAlpha = 0.78
  val CascadeMinDistinct = 0.35

  /** Ordered quality-filter cascade (the CCNet/Gopher-style rejection
    * funnel): every document gets the FIRST rule it fails — too short →
    * low alphabetic ratio → high token repetition — or `keep`. Emitting
    * the verdict (not just the survivors) is the point: the per-rule
    * rejection counts are the dashboard a curation pipeline watches to
    * see which rule is eating the corpus, and re-runs stay comparable
    * rule by rule. Pure per-row expressions — a narrow scan-fused pass,
    * zero shuffles at any corpus size.
    */
  def filterCascade(spark: SparkSession, dir: String,
      minTokens: Int = CascadeMinTokens, minAlpha: Double = CascadeMinAlpha,
      minDistinct: Double = CascadeMinDistinct): DataFrame = {
    val nTok = size(qtToks)
    val alphaRatio = alphaRatioExpr    // shared with qualityScore — the
    val distinctRatio = distinctRatioExpr // filter and the score can't drift
    Tables(spark, dir).documents
      .select(col("doc_id"),
        nTok.as("n_tok"),
        round(alphaRatio, 4).as("alpha_ratio"),
        round(distinctRatio, 4).as("distinct_ratio"),
        when(nTok < minTokens, "too_short")
          .when(alphaRatio < minAlpha, "low_alpha")
          .when(distinctRatio < minDistinct, "high_dup")
          .otherwise("keep").as("verdict"))
      .orderBy(col("doc_id"))
  }

  /** Document novelty: the fraction of a doc's DISTINCT word n-gram
    * shingles that occur in no other document — the curation signal
    * between exact dedup (novelty 0 for byte-copies) and quality scoring
    * (boilerplate-heavy docs score low without being duplicates of any
    * single doc). Shingling/tokenization is [[Dedup.rawShingles]] — the
    * one definition every dedup path shares.
    *
    * Scale shape: every shuffle (per-doc distinct, document-frequency
    * aggregate, the df join back, the per-doc rollup) runs on 8-byte
    * xxhash64 keys, never shingle strings; fan-out is linear in shingle
    * volume (no self-join — df comes from ONE groupBy). The oracle
    * computes df over the shingle strings themselves, so the gate also
    * re-checks the hash-for-string substitution (collision odds
    * ~(#shingles)²/2⁶⁴, the bound every dedup path documents).
    */
  def novelty(docs: DataFrame, n: Int = 3): DataFrame = {
    val sh = Dedup.rawShingleHashes(docs, n).distinct()
    // df as a PARTITIONED window count over h instead of a groupBy +
    // self-join: the join spelling consumed `sh` twice, so Catalyst ran
    // the whole shingling subtree (explode + string shingles + hash +
    // distinct exchange) once per consumer — one shingle pass and one
    // exchange fewer this way, same values (count over the h-partition
    // IS the document frequency). Skew bound is unchanged: a hot
    // shingle's rows land in one task either way (groupBy h had the
    // same key), and df rows per h are ≤ corpus docs by the distinct.
    sh.withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, lit(1L)).otherwise(lit(0L))).as("n_unique"))
      .withColumn("novelty", round(col("n_unique") / col("n_shingles"), 6))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------ LM perplexity score

  /** Per-document cross-entropy under an add-one-smoothed corpus unigram
    * LM — the CCNet-style "how surprising is this doc to a model of the
    * corpus" quality signal (low = boilerplate/common, high = noise/rare
    * junk; curation keeps the middle). p(w) = (c_w + 1)/(N + V) with c_w
    * the corpus count, N total tokens, V vocabulary size.
    *
    * Engine-exact gating for a float quantity: each doc×token term
    * tf·ln((N+V)/(c_w+1)) is rounded to 6 decimals THEN scaled to an
    * integer micro-nat count, and the per-doc rollup sums those BIGINTs —
    * so the result hashes bit-identically on any engine regardless of
    * float summation order (same fixed-point trick as the q25 per-term
    * rounding, pushed through an integer sum). `xent_micro / (1e6 ·
    * n_tokens)` is the cross-entropy in nats; `ppl` is its exp, derived
    * from the exact integers in one deterministic expression.
    *
    * Scale shape: tf and the corpus counts are both wordcount-pattern
    * aggregates (map-side partial agg before one shuffle each); the
    * tf⋈counts join shuffles on the token — linear in distinct
    * (doc,token) pairs, no fan-out; N and V ride in as a 1-row scalar
    * subquery folded over the counts table (one corpus scan total, plan
    * stays lazy); the final rollup is a groupBy(doc_id) on integer
    * columns. No windows, no self-joins, nothing quadratic.
    */
  def docPerplexity(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        explode(whitespaceTokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
    val totals = counts
      .agg((sum(col("c")) + count(lit(1))).as("nv")) // N + V
    val nv = totals.scalar()
    tf.join(counts, Seq("token"))
      .withColumn("term_micro",
        round(round(col("tf") * log(nv / (col("c") + lit(1.0))), 6) * 1e6)
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("term_micro")).as("xent_micro"))
      .withColumn("ppl",
        round(exp(col("xent_micro") / (lit(1e6) * col("n_tokens"))), 3))
      .orderBy(col("doc_id"))
  }

  /** Per-document token Shannon entropy — the information-theoretic
    * summary of within-doc repetition (Gopher/RefinedWeb-family quality
    * rules threshold on exactly this family of signals; a spam page of
    * one token repeated has entropy 0, natural prose sits near its
    * vocabulary's log). Uses the decomposition
    * H = ln(N) − (Σ_w c_w·ln c_w)/N so every per-token term is computed
    * independently (no p·ln p division per term), each term
    * floor-quantized to integer micro-nats BEFORE the sum — the
    * [[docPerplexity]] fixed-point discipline — making the result exact
    * under any partitioning and identical in any engine; quantization
    * error is < (distinct_tokens + 1)/1e6 nats, clamped at 0.
    *
    * Scale shape: the wordcount pattern twice — (doc, token-hash) counts
    * with map-side partials (the shuffle carries an 8-byte hash, never
    * the token; collisions merge counts with the usual ~(pairs)²/2⁶⁴
    * odds, and the oracle recomputes over token strings), then a
    * doc_id rollup of integers. No windows, no joins, nothing quadratic.
    */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        explode(whitespaceTokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
    toks
      .groupBy(col("doc_id"), xxhash64(col("token")).as("h"))
      .agg(count(lit(1)).as("k"))
      .withColumn("term_micro",
        floor(col("k").cast("double") * log(col("k").cast("double")) * 1e6)
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("term_micro")).as("__sm"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        greatest(lit(0L),
          floor(log(col("n_tokens").cast("double")) * 1e6).cast("long") -
            expr("__sm div n_tokens")).as("entropy_micro"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------- BPE merge-pair counting

  /** Top pair count for [[bpePairCounts]] — interpolated into the oracle. */
  val BpePairK = 100

  /** Adjacent-symbol pair counts — the inner loop of BPE tokenizer
    * training (Sennrich et al. 2016): for every adjacent character pair
    * inside a word, the corpus-wide occurrence count, weighted by word
    * frequency; the top pair is the next BPE merge. One iteration is
    * gated (the full trainer loops this against a driver-side merge
    * table); all-integer output → engine-exact.
    *
    * Scale shape — why this beats pair-counting the corpus directly: the
    * corpus is touched ONCE by the word count (wordcount pattern,
    * map-side partial agg); pair expansion then runs over the DISTINCT
    * word table — vocabulary-sized, not corpus-sized — so the quadratic
    * part of BPE training (re-scanning after every merge) touches only
    * the vocab at every iteration, which is exactly how production BPE
    * trainers are structured. The final agg keys on a character pair
    * (≤ alphabet² groups) and the global top-K runs through
    * [[Ranking.bucketedTopK]] — no single-task window.
    */
  def bpePairCounts(docs: DataFrame, topN: Int = BpePairK): DataFrame = {
    val words = docs
      .select(explode(whitespaceTokens(col("text"))).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    val pairs = words
      .select(col("c"), explode(expr(
        """transform(sequence(1, length(word) - 1),
          |  i -> struct(substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b))"""
          .stripMargin)).as("p"))
      .select(col("c"), col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(sum(col("c")).as("cnt"))
    Ranking.bucketedTopK(pairs,
        groupCols = Seq.empty,
        orderCols = Seq(col("cnt").desc, col("a"), col("b")),
        k = topN,
        bucketKeys = Seq(col("a"), col("b")))
      .select(col("rk"), col("a"), col("b"), col("cnt"))
      .orderBy(col("rk"))
  }

  /** One BPE merge applied to a symbol array: every left-to-right
    * adjacent (a, b) pair collapses to the merged symbol — a single
    * in-row fold, shared by the trainer loop and [[bpeEncode]] so the
    * two can never disagree on merge semantics.
    */
  private def applyMergeExpr(syms: Column, a: String, b: String): Column =
    aggregate(syms,
      array().cast("array<string>"),
      (acc, s) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** Full BPE trainer (Sennrich et al. 2016): `nMerges` rounds of
    * count-top-pair-then-merge, returning the learned merge list in
    * order. Gating stays on the single-iteration [[bpePairCounts]] (an
    * n-round trainer has no closed-form SQL oracle — same split as the
    * k-means trainer vs [[Clustering.kmeansFixedAssign]]); the loop is
    * ScalaTest-verified against a sequential in-memory reference. It
    * runs one driver-paced job per merge.
    *
    * Scale shape: the corpus is scanned ONCE (word count); every merge
    * round runs on the DISTINCT word table — vocabulary-sized, millions
    * of rows where the corpus has trillions of tokens — and ships one
    * (pair, count) row to the driver. The merge itself is a higher-order
    * left fold over each word's symbol array (greedy leftmost,
    * non-overlapping — "aaa" + (a,a) → [aa, a]); interpreted HOF cost is
    * fine off the corpus path. Lineage is cut with localCheckpoint every
    * few rounds so round N's plan doesn't embed N−1 fold expressions.
    */
  def bpeTrain(docs: DataFrame, nMerges: Int): Seq[(String, String, Long)] = {
    require(nMerges >= 1, s"need nMerges >= 1, got $nMerges")
    var words = docs
      .select(explode(whitespaceTokens(col("text"))).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .select(split(col("word"), "").as("syms"), col("c"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var exhausted = false
    for (round <- 1 to nMerges if !exhausted) {
      // guard: sequence(1, 0) DESCENDS in Spark, so fully-merged
      // single-symbol words must be dropped before the pair explode
      val top = words
        .filter(size(col("syms")) >= 2)
        .select(col("c"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(syms[i - 1] AS a, syms[i] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("c")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((a, b, cnt))
        words = words.select(applyMergeExpr(col("syms"), a, b).as("syms"), col("c"))
        if (round % 4 == 0) words = words.localCheckpoint()
      }
    }
    merges.toSeq
  }

  /** BPE ENCODE — the tokenizer's apply half: segment every word with a
    * trained merge list (e.g. [[bpeTrain]]'s output) and report per-doc
    * BPE token counts. The i-th merge is applied after all earlier ones,
    * exactly as in training — the shared [[applyMergeExpr]] fold
    * guarantees the same left-to-right collapse semantics.
    *
    * Scale shape — the production tokenizer-application layout: merges
    * chain as expressions over the DISTINCT word table (vocabulary-
    * sized, one plan, no per-merge actions), and the corpus is touched
    * once by a token explode that joins the segmented vocab (AQE picks
    * broadcast vs shuffle by measured size — see the join comment).
    * Oracle-gated under the pinned [[PinnedBpeMerges]] list
    * (`bpe_encode`); spec-verified against an in-memory encoder for
    * arbitrary trained merge lists.
    */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "need at least one merge")
    val toks = docs
      .select(col("doc_id"), explode(whitespaceTokens(col("text"))).as("word"))
      .filter(length(col("word")) >= 1)
    val vocab0 = toks.select(col("word")).distinct()
      .select(col("word"), split(col("word"), "").as("syms"))
    val segmented = merges.foldLeft(vocab0) { case (df, (a, b)) =>
      df.select(col("word"), applyMergeExpr(col("syms"), a, b).as("syms"))
    }
    val sizes = segmented.select(col("word"),
      size(col("syms")).cast("long").as("n_bpe"))
    // NO forced broadcast: distinct whitespace tokens follow Heaps' law —
    // at 100 TB the vocab (URLs, typos, numerals) runs to billions and
    // would OOM a hinted broadcast. The join key IS the word, so the
    // shuffle join is the natural fallback; AQE converts it to a
    // broadcast join at runtime whenever the segmented vocab lands under
    // spark.sql.autoBroadcastJoinThreshold — size-thresholded broadcast
    // without hardcoding the threshold here.
    toks.join(sizes, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("n_bpe")).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------- fill-in-middle transformation

  /** Pinned merge list for the gated `bpe_encode` entry: the 16 merges a
    * committed [[bpeTrain]](documents, 16) run learns at sf0.01, frozen
    * as literals — the pin-the-nondeterminism move that gated
    * `kmeans_fixed_assign` and `ann_lsh`. Training is iterative argmax
    * (no closed-form SQL oracle); ENCODING under a fixed merge list is a
    * deterministic per-word rewrite, and this is exactly the
    * tokenizer-apply step a user runs, so it carries hash-level
    * evidence. The DuckDB oracle restates the greedy leftmost
    * non-overlapping collapse as a chain of 16 `replace`s over a
    * delimiter-wrapped symbol string (see the oracle comment in
    * [[graft.SparkEntry]]).
    */
  val PinnedBpeMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r", "s" -> "t",
    "m" -> "er", "a" -> "t", "l" -> "u", "a" -> "r", "p" -> "ar",
    "j" -> "o", "jo" -> "in", "a" -> "s", "as" -> "h", "h" -> "ash",
    "r" -> "ow")

  /** Per-language tokenizer FERTILITY (BPE tokens per word, exact
    * micro-rate) under a fixed merge list — the multilingual-tokenizer
    * audit every cross-lingual pretraining effort publishes: a
    * vocabulary trained on one language mix over-fragments the others
    * (fertility 2-3× the dominant language's), silently taxing their
    * effective context length and compute share; this table is where
    * that shows up before a training run pays for it.
    *
    * Scale shape: [[bpeEncode]]'s own plan (corpus touched once,
    * merges chained over the distinct-word table) plus one broadcast-
    * friendly join back to the doc→lang map and a languages-sized
    * aggregate. All-integer output.
    */
  def bpeFertility(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    bpeEncode(docs, merges)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
      .withColumn("fertility_micro",
        expr("n_bpe_tokens * 1000000 div n_words"))
      .orderBy(col("lang"))

  // --------------------------------------- unigram-LM (Viterbi) encoding

  /** Pinned unigram-LM piece inventory for the gated `unigram_encode`
    * entry — the SECOND tokenizer family next to BPE: piece →
    * cost_micro (−ln p in micro-nats, integers). The multi-character
    * pieces are the symbols the committed BPE run learned (thematic
    * continuity with [[PinnedBpeMerges]]); costs are frequency-tiered so
    * Viterbi meaningfully prefers long pieces ("hash" as one piece at
    * 7.0 beats "h"+"ash" at 10.0 beats four singles at 16.0).
    */
  val UnigramPieces: Map[String, Long] = Map(
    "in" -> 4500000L, "er" -> 4500000L, "at" -> 4500000L, "ar" -> 4500000L,
    "st" -> 4500000L, "or" -> 4500000L, "as" -> 4500000L,
    "ow" -> 5500000L, "lu" -> 5500000L, "jo" -> 5500000L,
    "mer" -> 6000000L, "par" -> 6000000L, "ash" -> 6000000L, "row" -> 6000000L,
    "join" -> 7000000L, "hash" -> 7000000L)

  /** Cost of a known ([a-z]) single character; the universal fallback
    * that keeps every word segmentable.
    */
  val UnigramCharCost = 4000000L

  /** Cost of any other single character (digits, punctuation, unicode)
    * — the <unk>-per-char floor.
    */
  val UnigramUnkCost = 10000000L

  /** Longest word the gate accepts — the DuckDB oracle's DP unroll
    * depth. The Spark fold handles any length; a longer word fails
    * LOUDLY (raise_error) instead of silently disagreeing with the
    * oracle. Fixture max is 8; raise deliberately for a real corpus.
    */
  val UnigramMaxWordLen = 16

  /** Packed DP weight: Viterbi state is (cost_micro, n_pieces) compared
    * lexicographically; with n_pieces < 1024 (≤ [[UnigramMaxWordLen]])
    * the pair packs into ONE BIGINT `cost·1024 + n`, and taking a piece
    * adds `cost(p)·1024 + 1` — the whole DP becomes pure integer
    * min-plus that any engine reproduces bit-for-bit, no struct
    * comparison machinery needed.
    */
  def unigramW(costMicro: Long): Long = costMicro * 1024L + 1L

  private def unigramMapLit(len: Int): String = {
    val entries = UnigramPieces.toSeq.filter(_._1.length == len).sortBy(_._1)
      .map { case (p, c) => s"'$p', ${unigramW(c)}L" }.mkString(", ")
    s"map($entries)"
  }

  /** Unigram-LM (SentencePiece-style) ENCODING under the pinned piece
    * inventory: per document, the token count and total cost of the
    * min-cost Viterbi segmentation of each word (Kudo 2018's apply
    * half; the EM trainer is out of scope the same way [[bpeTrain]]'s
    * loop is gated via its pinned-apply twin). dp[0] = 0;
    * dp[i] = min over pieces p ending at i of dp[i−|p|] + W(p), with a
    * single-char fallback at every position so dp is always finite;
    * ties prefer fewer pieces (the packed weight's low bits). The whole
    * recurrence is ONE in-row `aggregate` fold over character
    * positions — scan-fused, zero shuffles for the DP itself — and
    * every quantity is BIGINT, so the DuckDB oracle (the same DP
    * unrolled to [[UnigramMaxWordLen]] CTE steps) matches hash-exactly.
    *
    * Scale shape: the corpus is touched once by the token explode
    * (wordcount pattern); the DP runs over the DISTINCT word table —
    * vocabulary-sized — and joins back size-thresholded by AQE, the
    * [[bpeEncode]] layout exactly.
    */
  def unigramEncode(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(whitespaceTokens(col("text"))).as("word"))
      .filter(length(col("word")) >= 1)
    val vocab = toks.select(col("word")).distinct()
      .withColumn("word", when(length(col("word")) > UnigramMaxWordLen,
        raise_error(concat(
          lit(s"unigramEncode: word longer than $UnigramMaxWordLen chars: '"),
          col("word"),
          lit("' — raise UnigramMaxWordLen (the oracle unroll depth) deliberately"))))
        .otherwise(col("word")))
    val dp = s"""
      aggregate(
        sequence(1, length(word)),
        array(CAST(0 AS BIGINT)),
        (acc, i) -> array_append(acc, array_min(filter(array(
          element_at(acc, i) + IF(substr(word, i, 1) BETWEEN 'a' AND 'z',
            ${unigramW(UnigramCharCost)}L, ${unigramW(UnigramUnkCost)}L),
          IF(i >= 2, element_at(acc, i - 1) +
            try_element_at(${unigramMapLit(2)}, substr(word, i - 1, 2)),
            CAST(NULL AS BIGINT)),
          IF(i >= 3, element_at(acc, i - 2) +
            try_element_at(${unigramMapLit(3)}, substr(word, i - 2, 3)),
            CAST(NULL AS BIGINT)),
          IF(i >= 4, element_at(acc, i - 3) +
            try_element_at(${unigramMapLit(4)}, substr(word, i - 3, 4)),
            CAST(NULL AS BIGINT))
        ), x -> x IS NOT NULL))))"""
    val sizes = vocab
      .withColumn("vf", element_at(expr(dp), -1))
      .select(col("word"), expr("vf div 1024").as("wc"),
        expr("vf % 1024").as("wn"))
    toks.join(sizes, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("wn")).as("n_pieces"),
        sum(col("wc")).as("cost_micro"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------- WordPiece (greedy) encoding

  /** Pinned WordPiece inventories for the gated `wordpiece_encode`
    * entry — the THIRD tokenizer family: BPE applies a learned merge
    * list, unigram-LM minimizes global cost by Viterbi, WordPiece
    * (BERT's tokenizer) is greedy LONGEST-MATCH-FIRST with separate
    * word-initial and continuation ("##") inventories. Keyed by piece
    * length; every [a-z] single char is implicitly in both inventories
    * (the per-char backoff — see [[wordpieceEncode]]).
    */
  val WordpieceInitial: Map[Int, Seq[String]] = Map(
    2 -> Seq("ar", "as", "at", "er", "in", "jo", "or", "st"),
    3 -> Seq("mer", "par", "row"),
    4 -> Seq("hash", "join"))

  /** Continuation pieces (the "##xx" half of the vocab, stored without
    * the marker — position > 1 IS the marker here).
    */
  val WordpieceCont: Map[Int, Seq[String]] = Map(
    2 -> Seq("ar", "at", "er", "in", "ow", "sh"),
    3 -> Seq("ash", "ine", "row"),
    4 -> Seq("oins"))

  /** Longest word the gate accepts — the DuckDB oracle's unroll depth
    * (same loud-bound contract as [[UnigramMaxWordLen]]).
    */
  val WordpieceMaxWordLen = 16

  /** Packed scanner state: `pos · 2^20 + n_pieces · 2^10 + n_unk` — one
    * BIGINT, so the whole greedy scan is integer adds any engine
    * reproduces exactly. pos ≤ 17, counts ≤ 16: no field overflows.
    */
  private val WpPosW = 1L << 20
  private val WpPieceW = 1L << 10

  private def wpIn(len: Int, initial: Boolean, at: String): String = {
    val pieces = (if (initial) WordpieceInitial else WordpieceCont)
      .getOrElse(len, Nil).sorted
    if (pieces.isEmpty) "false"
    else pieces.map(p => s"'$p'")
      .mkString(s"substr(word, $at, $len) IN (", ", ", ")")
  }

  /** The greedy step at position `i` (an expression fragment shared by
    * the Spark fold and — with `i` a literal — the oracle's unrolled
    * CTEs): if a 4-, 3-, then 2-char piece from the position's
    * inventory matches, consume it; else consume one char, counting it
    * UNK unless it is [a-z]. `initSel` renders the initial-vs-
    * continuation choice (a runtime IF in the fold, static per CTE
    * step in the oracle).
    */
  private def wpStep(at: String, initSel: (String, String) => String): String = {
    def m(len: Int) = initSel(wpIn(len, initial = true, at),
      wpIn(len, initial = false, at))
    s"""CASE
        WHEN length(word) >= $at + 3 AND ${m(4)} THEN ${4 * WpPosW + WpPieceW}
        WHEN length(word) >= $at + 2 AND ${m(3)} THEN ${3 * WpPosW + WpPieceW}
        WHEN length(word) >= $at + 1 AND ${m(2)} THEN ${2 * WpPosW + WpPieceW}
        WHEN substr(word, $at, 1) BETWEEN 'a' AND 'z' THEN ${WpPosW + WpPieceW}
        ELSE ${WpPosW + WpPieceW + 1}
       END"""
  }

  private[graft] def wpStepSpark: String =
    wpStep("i", (ini, cont) => s"IF(i = 1, $ini, $cont)")

  private[graft] def wpStepDuck(k: Int): String =
    wpStep(k.toString, (ini, cont) => if (k == 1) ini else cont)

  /** WordPiece (greedy longest-match-first) encoding under the pinned
    * inventories: per document, word/piece/UNK counts of the scan. The
    * scan is ONE in-row `aggregate` fold over character positions with
    * the packed integer state — at a position the scanner owns (i =
    * pos) it consumes the longest matching piece and jumps; positions
    * inside a consumed piece pass the state through untouched. Deviates
    * from BERT's whole-word-UNK rule by design: a non-matching char
    * becomes a counted per-char UNK instead of voiding the word — the
    * robust-pipeline variant (a single emoji doesn't erase a 15-char
    * word from the token budget), documented here because the oracle
    * replays exactly this rule.
    *
    * Scale shape: identical to [[unigramEncode]] — corpus touched once
    * by the token explode, the scan runs on the DISTINCT word table,
    * AQE sizes the join back. Words past [[WordpieceMaxWordLen]] fail
    * loudly (the oracle's unroll depth).
    */
  def wordpieceEncode(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(whitespaceTokens(col("text"))).as("word"))
      .filter(length(col("word")) >= 1)
    val vocab = toks.select(col("word")).distinct()
      .withColumn("word", when(length(col("word")) > WordpieceMaxWordLen,
        raise_error(concat(
          lit(s"wordpieceEncode: word longer than $WordpieceMaxWordLen chars: '"),
          col("word"),
          lit("' — raise WordpieceMaxWordLen (the oracle unroll depth) deliberately"))))
        .otherwise(col("word")))
    val scan = s"""
      aggregate(
        sequence(1, length(word)),
        CAST($WpPosW AS BIGINT),
        (acc, i) -> IF(i < acc div $WpPosW, acc, acc + $wpStepSpark))"""
    val sizes = vocab
      .withColumn("wf", expr(scan))
      .select(col("word"),
        expr(s"wf div $WpPieceW % ${WpPosW / WpPieceW}").as("wn"),
        expr(s"wf % $WpPieceW").as("wu"))
    toks.join(sizes, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("wn")).as("n_pieces"),
        sum(col("wu")).as("n_unk"))
      .orderBy(col("doc_id"))
  }

  /** Cross-family tokenizer comparison — the table a tokenizer BAKE-OFF
    * reads: per document, the piece counts and exact micro-fertilities
    * of all three gated families (BPE merge list, unigram-LM Viterbi,
    * WordPiece greedy scan) side by side. Fertility differences between
    * algorithms ON THE SAME corpus are the selection signal (a family
    * whose fertility spikes on some docs is over-fragmenting them), and
    * having all three in one deterministic table is what makes the
    * choice auditable rather than anecdotal.
    *
    * Pure reuse: the three encoders run their own (vocabulary-sized)
    * plans and join on doc_id — the corpus is scanned once per family,
    * exactly as the individual gates already pay, and fertilities are
    * positive integer micro-divisions.
    */
  def tokenizerCompare(docs: DataFrame): DataFrame = {
    val b = bpeEncode(docs, PinnedBpeMerges)
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"))
    val u = unigramEncode(docs)
      .select(col("doc_id"), col("n_pieces").as("n_unigram"))
    val w = wordpieceEncode(docs)
      .select(col("doc_id"), col("n_pieces").as("n_wordpiece"))
    b.join(u, Seq("doc_id")).join(w, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
        col("n_unigram"), col("n_wordpiece"),
        expr("n_bpe_tokens * 1000000 div n_words").as("bpe_fert_micro"),
        expr("n_unigram * 1000000 div n_words").as("unigram_fert_micro"),
        expr("n_wordpiece * 1000000 div n_words").as("wordpiece_fert_micro"))
      .orderBy(col("doc_id"))
  }

  /** FIM (fill-in-middle) transformation (Bavarian et al. 2022) — the
    * data-prep transform behind infilling-capable code/LLM training:
    * a deterministic `rate` fraction of docs is rewritten from
    * `prefix middle suffix` to `<PRE>prefix<SUF>suffix<MID>middle`, so
    * the model learns to generate the middle conditioned on both sides;
    * the rest pass through untouched (the paper's 50/50 joint recipe).
    *
    * Everything is derived from md5 of the doc key — the selection gate
    * and both character cut points — so the transform is a pure function
    * of the data (the [[Sampling]] determinism standard): reproducible
    * on any partitioning and replayable by the DuckDB oracle character
    * for character. Cut points are uniform over the character length;
    * `c1 <= c2` by least/greatest. Pure scalar expressions — zero
    * shuffles, the scan-fused shape; [[fimTransformOn]] is the
    * sort-free form a stream can run.
    */
  def fimTransform(docs: DataFrame, rate: Double = 0.5): DataFrame =
    fimTransformOn(docs, rate).orderBy(col("doc_id"))

  /** [[fimTransform]] without the output sort — the form streaming can
    * run (a global sort is illegal on an unbounded stream).
    */
  def fimTransformOn(docs: DataFrame, rate: Double = 0.5): DataFrame = {
    def h60(salt: String) = md5_60(concat(lit(salt), col("doc_id").cast("string")))
    val n = length(col("text")).cast("long")
    val h1 = pmod(h60("fim1:"), greatest(n, lit(1L)))
    val h2 = pmod(h60("fim2:"), greatest(n, lit(1L)))
    val c1 = (least(h1, h2) + 1).cast("int")
    val c2 = (greatest(h1, h2) + 1).cast("int")
    val selected = pmod(h60("fim:"), lit(1000000L)) < lit((1000000L * rate).toLong)
    val prefix = col("text").substr(lit(1), c1 - 1)
    val middle = col("text").substr(c1, c2 - c1)
    val suffix = col("text").substr(c2, (n.cast("int") - c2) + 1)
    docs.select(col("doc_id"),
      when(selected, lit(1)).otherwise(lit(0)).as("transformed"),
      when(selected,
        concat(lit("<PRE>"), prefix, lit("<SUF>"), suffix, lit("<MID>"), middle))
        .otherwise(col("text")).as("fim_text"))
  }

  // ---------------------------------------- T5-style span corruption

  /** T5 span-corruption transform (Raffel et al. 2020 §3.1.4) — the
    * denoising objective's data prep: ~`rate` of tokens are marked noisy
    * by a per-(doc, position) md5 gate, contiguous noisy runs become
    * spans, each span is replaced in the input by a numbered sentinel
    * and moved to the target (sentinel + tokens), and the target closes
    * with one final sentinel. Deterministic twin of the paper's random
    * corruption — a pure function of the data, like [[fimTransform]].
    *
    * Scale shape: the whole transform is ONE in-row `aggregate` fold
    * over the token array (accumulator = input tokens, target tokens,
    * span count, in-run flag) — scan-fused, zero shuffles, no
    * token-level explode. The DuckDB oracle deliberately uses a
    * structurally DIFFERENT formulation (positions + lag/running-sum
    * gaps-and-islands windows), so the gate cross-checks two
    * independent spellings of the policy.
    */
  def t5Spans(docs: DataFrame, rate: Double = 0.15): DataFrame = {
    val gate = (1000000L * rate).toLong
    val folded = expr(
      s"""aggregate(
         |  sequence(1, size(w)),
         |  named_struct(
         |    'inp', cast(array() as array<string>),
         |    'tgt', cast(array() as array<string>),
         |    'k', 0, 'prev', false),
         |  (acc, i) -> CASE
         |    WHEN CAST(conv(substr(md5(concat('t5:', CAST(doc_id AS STRING), ':',
         |           CAST(i AS STRING))), 1, 15), 16, 10) AS BIGINT) % 1000000 < $gate
         |    THEN CASE WHEN acc.prev
         |      THEN named_struct(
         |        'inp', acc.inp,
         |        'tgt', concat(acc.tgt, array(element_at(w, i))),
         |        'k', acc.k, 'prev', true)
         |      ELSE named_struct(
         |        'inp', concat(acc.inp,
         |          array(concat('<extra_id_', CAST(acc.k AS STRING), '>'))),
         |        'tgt', concat(acc.tgt,
         |          array(concat('<extra_id_', CAST(acc.k AS STRING), '>'),
         |            element_at(w, i))),
         |        'k', acc.k + 1, 'prev', true)
         |      END
         |    ELSE named_struct(
         |      'inp', concat(acc.inp, array(element_at(w, i))),
         |      'tgt', acc.tgt,
         |      'k', acc.k, 'prev', false)
         |    END,
         |  acc -> named_struct(
         |    'inp', acc.inp,
         |    'tgt', concat(acc.tgt,
         |      array(concat('<extra_id_', CAST(acc.k AS STRING), '>'))),
         |    'k', acc.k, 'prev', acc.prev))""".stripMargin)
    docs
      .select(col("doc_id"), whitespaceTokens(col("text")).as("w"))
      .withColumn("r", folded)
      .select(col("doc_id"),
        col("r.k").as("n_spans"),
        concat_ws(" ", col("r.inp")).as("input_text"),
        concat_ws(" ", col("r.tgt")).as("target_text"))
      .orderBy(col("doc_id"))
  }
}
