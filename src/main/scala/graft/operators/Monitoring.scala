package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Pipeline observability — the data-quality counters a production run
  * records per pass (row counts, null counts, approximate key
  * cardinality), attached with Spark's `Observation` API: the metrics are
  * computed DURING whatever action the caller runs (accumulator-backed,
  * collected on the driver when the action finishes), so a monitored
  * write costs ZERO extra scans — the difference, at 100 TB, between
  * "monitored" and "twice as expensive".
  *
  * The reference has no observability beyond log lines
  * (`maple_juice/maple_juice.go` prints timings to stdout); this is the
  * Spark-idiomatic replacement.
  */
object Monitoring {

  /** Attach quality metrics to `df`: total rows, per-column null counts,
    * and per-column approximate distinct counts (HLL++, ±~2%). Returns
    * the instrumented frame and the Observation — run any ONE action on
    * the returned frame, then read `observation.get`.
    */
  def observed(df: DataFrame, name: String,
      cols: Seq[String]): (DataFrame, Observation) = {
    require(cols.nonEmpty, "need at least one column to observe")
    val obs = Observation(name)
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        approx_count_distinct(col(c)).as(s"${c}_approx_distinct"))
    }
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }

  /** One-row corpus summary card — the header block of a dataset card
    * (docs, token volume, language/source cardinality, exact-duplicate
    * ratio), exact in one corpus pass. The three exact count-distincts
    * share a single aggregate: Spark plans them with one Expand (3×
    * row multiplication before the partial agg) — one scan, one
    * shuffle, and the distinct-agg shuffle keys are the 32-hex md5 /
    * short codes, never document text. For a quick-look card at scale
    * swap in [[observed]]'s approx_count_distinct; this exact version
    * is the auditable one the gate can hash.
    */
  def corpusCard(docs: DataFrame): DataFrame =
    docs.agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(trim(col("text")), "\\s+")).cast("long"))
          .as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(md5(col("text"))).as("n_unique_texts"))
      .withColumn("dup_ratio", round(
        lit(1.0) - col("n_unique_texts").cast("double") / col("n_docs"), 6))

  def corpusCardDocs(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    corpusCard(graft.Engine.Tables(spark, dir).documents)

  /** Shingles for the overlap audit — word n-grams per (source, text)
    * row; the [[Dedup.rawShingles]] synthesis with `source` carried
    * instead of `doc_id`.
    */
  val OverlapShingle = 8

  /** Cross-source shingle-overlap matrix — the corpus-composition audit
    * behind every dataset card's "component overlap" table: for each
    * source pair (a ≤ b), how many distinct word [[OverlapShingle]]-grams
    * occur in BOTH components (the diagonal is each component's distinct
    * shingle count). Redundant or contaminated components show up as hot
    * off-diagonal cells before any training run pays for the overlap.
    *
    * 100 TB shape (the part that matters): ONE aggregate keyed on the
    * 8-byte shingle hash builds a per-shingle source BITMASK — an
    * array of ⌈S/64⌉ Long words, each word one `bit_or` column in the
    * same aggregate (idempotent, so no per-source distinct pass; any
    * source count, not just 63), then the mask HISTOGRAM (≤ min(2^S,
    * #distinct shingles) rows, in practice far fewer — bounded
    * regardless of corpus size) expands into the S(S+1)/2 pair grid. The expensive stage is shingle-volume-linear
    * with map-side partials; the quadratic-looking pair expansion runs
    * on the tiny histogram, never on shingles. Same hash-for-string
    * substitution as every dedup path (collision odds ~(#shingles)²/2⁶⁴);
    * the oracle recomputes over the shingle strings themselves.
    */
  def sourceOverlap(docs: DataFrame, nSources: Int = 20): DataFrame = {
    // the bitmask is an ARRAY of signed Longs — ⌈nSources/64⌉ words, each
    // its own bit_or column inside the SAME single aggregate — so the
    // source count is unbounded (real pipelines track hundreds of
    // components) while the one-pass shape is unchanged; with ≤ 63
    // sources this degenerates to exactly the old single-Long plan.
    // A digit-less source yields NULL sid and sid ≥ nSources would land
    // in a word the pair grid never reads — both would silently corrupt
    // the matrix, so they fail loudly instead (the canonicalizeEventTs
    // policy: never mis-read at 100 TB in silence)
    require(nSources >= 1,
      s"sourceOverlap: nSources must be >= 1, got $nSources")
    val nWords = (nSources + 63) / 64
    val n = OverlapShingle
    // try_cast: under ANSI a plain cast of the digit-less '' raises its
    // own CAST_INVALID_INPUT before the check below can name the source
    val sidRaw = regexp_extract(col("source"), "([0-9]+)", 1).try_cast("int")
    val sid = when(sidRaw.isNull || sidRaw < 0 || sidRaw >= nSources,
        raise_error(concat(
          lit(s"sourceOverlap: source id outside [0, $nSources) in source='"),
          col("source"), lit("' — extend nSources or fix the source naming"))))
      .otherwise(sidRaw)
    // native shingle-hash kernel (one tokenization pass, no per-shingle
    // strings) — the groupBy below consumed only xxhash64(shingle), so
    // the hashes can be produced directly; values are the spec-pinned
    // xxhash64-of-joined-tokens the oracle replays. `sid` is checked
    // before the explode: a doc with fewer than n tokens explodes to no
    // rows, so a check beside the explode would never see its source
    val sh = docs
      .select(sid.as("sid"), col("text"))
      .select(col("sid"),
        explode(graft.functions.ShingleHashes.shingleHashes(col("text"), n))
          .as("h"))
    val maskCols = (0 until nWords).map(w =>
      expr(s"bit_or(IF(sid div 64 = $w, shiftleft(1L, sid % 64), 0L))")
        .as(s"mask_$w"))
    val maskNames = (0 until nWords).map(w => col(s"mask_$w"))
    val masks = sh
      .groupBy(col("h"))
      .agg(maskCols.head, maskCols.tail: _*)
    val hist = masks.groupBy(maskNames: _*).agg(count(lit(1)).as("n"))
      .withColumn("mask_arr", array(maskNames: _*))
    val grid = (0 until nSources).flatMap(a => (a until nSources).map(b =>
      struct(lit(a).as("a"), lit(b).as("b"))))
    hist
      .select(col("mask_arr"), col("n"), explode(array(grid: _*)).as("p"))
      .filter(expr(
        """((element_at(mask_arr, CAST(p.a div 64 AS INT) + 1) >> (p.a % 64)) & 1) = 1
          |AND ((element_at(mask_arr, CAST(p.b div 64 AS INT) + 1) >> (p.b % 64)) & 1) = 1"""
          .stripMargin))
      .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
      .agg(sum(col("n")).as("n_shared"))
      .orderBy(col("src_a"), col("src_b"))
  }

  def sourceOverlapDocs(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    sourceOverlap(graft.Engine.Tables(spark, dir).documents)

  /** Mergeable-sketch audit — the property that makes sketches the
    * 100 TB cardinality path at all: a DataSketches HLL built per shard
    * and UNIONED answers the same distinct question as one sketch over
    * everything, inside the sketch's error contract against the exact
    * distinct. This is what lets a warehouse keep per-partition/per-day
    * sketch columns and answer global distinct questions without ever
    * re-touching the data — here demonstrated per `source` shard over
    * the documents corpus with everything in one output row: the exact
    * distinct, two q18-style error-contract verdicts, and a
    * merge-consistency verdict the DuckDB oracle asserts TRUE.
    *
    * Merge consistency is a BAND, not equality, deliberately: the
    * register state after a union is identical to the direct sketch's
    * (register-wise max is associative/commutative), but DataSketches
    * estimates a directly-updated sketch with its HIP estimator and a
    * unioned one with the composite estimator, so the two ESTIMATES of
    * the same registers legitimately differ by a fraction of a percent
    * (measured ~0.1% on the fixtures). The verdict pins them within
    * max(10, 2%) of each other — tight enough to catch a real merge
    * bug, honest about the estimator seam.
    *
    * Scale shape: the per-shard sketch aggregate is one pass with
    * map-side partial sketches (bytes per partition, not rows); the
    * union aggregates shard-count sketch blobs. The exact distinct
    * companion exists for the gate; a production run drops it — that
    * is the point of the sketch.
    */
  def hllMergeable(docs: DataFrame, lgK: Int = 12): DataFrame = {
    val key = md5(col("text"))
    val perSource = docs.groupBy(col("source"))
      .agg(hll_sketch_agg(key, lit(lgK)).as("sk"))
    val merged = perSource.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
        .as("est_merged"))
    docs.agg(
        hll_sketch_estimate(hll_sketch_agg(key, lit(lgK))).as("est_direct"),
        countDistinct(key).as("n_exact"))
      .crossJoin(broadcast(merged))
      .select(col("n_exact"),
        (abs(col("est_direct") - col("n_exact")) <=
          greatest(lit(10L), expr("(n_exact * 5) div 100"))).as("direct_ok"),
        (abs(col("est_merged") - col("n_exact")) <=
          greatest(lit(10L), expr("(n_exact * 5) div 100"))).as("merged_ok"),
        (abs(col("est_merged") - col("est_direct")) <=
          greatest(lit(10L), expr("(n_exact * 2) div 100")))
          .as("merge_consistent"))
  }

  def hllMergeableDocs(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    hllMergeable(graft.Engine.Tables(spark, dir).documents)

  /** Minimum group size for the k-anonymity release audit. */
  val KAnonK = 5L

  /** k-anonymity audit over a quasi-identifier combination — the release
    * gate a corpus/metadata publication runs: any quasi-identifier
    * equivalence class with fewer than k members re-identifies its rows,
    * so the audit reports exactly those classes (and their sizes) for
    * suppression or generalization before release. Output is
    * violation-sized, not corpus-sized.
    *
    * 100 TB shape: ONE aggregate on the quasi-identifier tuple with
    * map-side partials, then a filter on the count — the wordcount
    * pattern; nothing quadratic, no distinct-expansion. Generalization
    * (bucketing a numeric column) happens in the caller's projection,
    * fused into the scan.
    */
  def kAnonymityAudit(df: DataFrame, quasiIds: Seq[String],
      k: Long = KAnonK): DataFrame = {
    require(quasiIds.nonEmpty, "need at least one quasi-identifier column")
    df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < k)
      .orderBy(quasiIds.map(col): _*)
  }

  /** Gated entry: documents released with (lang, source, length-century)
    * metadata — length generalized to 100-char buckets, the standard
    * k-anonymity generalization step.
    */
  def kanonDocs(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    kAnonymityAudit(
      graft.Engine.Tables(spark, dir).documents
        .select(col("lang"), col("source"),
          expr("n_chars div 100").as("len_bucket")),
      Seq("lang", "source", "len_bucket"))
  }

  /** Minimum sensitive-value diversity for the l-diversity audit. */
  val LDivL = 3L

  /** l-diversity audit — [[kAnonymityAudit]]'s stronger sibling:
    * k-anonymity alone still leaks when a quasi-identifier class is
    * large but HOMOGENEOUS in the sensitive attribute (everyone in the
    * class shares one sensitive value, so membership reveals it —
    * Machanavajjhala et al. 2007's homogeneity attack). The audit
    * reports every class whose DISTINCT sensitive-value count falls
    * below l, with its size and diversity, for suppression or further
    * generalization before release.
    *
    * 100 TB shape: ONE aggregate on the quasi-identifier tuple —
    * count + exact count-distinct of the sensitive column. The distinct
    * aggregate plans through Spark's two-phase Expand/partial machinery
    * (never a per-class collect), and the output is violation-sized.
    */
  def lDiversityAudit(df: DataFrame, quasiIds: Seq[String],
      sensitiveCol: String, l: Long = LDivL): DataFrame = {
    require(quasiIds.nonEmpty, "need at least one quasi-identifier column")
    require(!quasiIds.contains(sensitiveCol),
      s"sensitive column '$sensitiveCol' cannot also be a quasi-identifier")
    df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .filter(col("n_sensitive") < l)
      .orderBy(quasiIds.map(col): _*)
  }

  /** Gated entry: documents released with (source, length-century)
    * quasi-identifiers and `lang` as the sensitive attribute — a class
    * of same-source same-length docs that are all one language tells an
    * observer that language for every member.
    */
  def ldivDocs(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    lDiversityAudit(
      graft.Engine.Tables(spark, dir).documents
        .select(col("lang"), col("source"),
          expr("n_chars div 100").as("len_bucket")),
      Seq("source", "len_bucket"), "lang")
  }
}
