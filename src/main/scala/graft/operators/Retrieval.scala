package graft.operators

import graft.Engine.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BM25 retrieval over the document corpus — the "find the training docs
  * most relevant to a fixed query" primitive behind RAG-corpus curation
  * and targeted data selection. Okapi BM25 with the standard parameters:
  *
  *   score(d) = Σ_i idf_i · tf_i·(k1+1) / (tf_i + k1·(1 − b + b·dl/avgdl))
  *   idf_i    = ln((N − df_i + 0.5) / (df_i + 0.5) + 1)
  *
  * Scale shape: the query term list is tiny and FIXED, so nothing ever
  * explodes the token stream — per-doc term frequencies are higher-order
  * array expressions inside the scan (codegen'd, zero shuffles), corpus
  * statistics (N, Σdl, per-term df) are ONE single-row aggregate that
  * broadcast-cross-joins back onto the scoring scan, and the top-k is
  * `ORDER BY ... LIMIT k` which Spark executes as TakeOrdered — each
  * partition keeps k candidates, the driver merges k·partitions rows.
  * Two passes over the corpus total (stats + scoring), both narrow.
  *
  * Cross-engine determinism: tf/df/dl are integer-valued doubles (exact
  * at any corpus size below 2^53 tokens), avgdl is an exact integer sum
  * divided once, the per-term score sum is written left-to-right in both
  * engines, and the emitted score is rounded to 6 decimals.
  */
object Retrieval {

  /** Default gated query — terms chosen from the corpus vocabulary. */
  val DefaultTerms: Seq[String] = Seq("spark", "window", "join", "stream")

  def bm25TopK(docs: DataFrame, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 100): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val toks = filter(TextAnalysis.whitespaceTokens(col("text")),
      t => length(t) > 0)
    val tfCols = terms.indices.map { i =>
      size(filter(col("toks"), t => t === lit(terms(i))))
        .cast("double").as(s"tf$i")
    }
    val base = docs
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id") +: size(col("toks")).cast("double").as("dl")
        +: tfCols: _*)
    // corpus statistics stay IN the plan: one single-row aggregate,
    // broadcast back — the q25_tfidf idiom, so the DataFrame stays lazy
    val statAggs =
      count(lit(1)).cast("double").as("n") +:
        (sum(col("dl")) / count(lit(1))).as("avgdl") +:
        terms.indices.map(i =>
          sum((col(s"tf$i") > 0).cast("long")).cast("double").as(s"df$i"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    def contrib(i: Int): Column = {
      val tf = col(s"tf$i")
      val idf = log((col("n") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5)
        + 1.0)
      idf * (tf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    }
    val score = terms.indices.map(contrib).reduceLeft(_ + _)
    val nHits = terms.indices
      .map(i => (col(s"tf$i") > 0).cast("int")).reduceLeft(_ + _)
    base.crossJoin(broadcast(stats))
      .withColumn("score_raw", score)
      .filter(col("score_raw") > 0)
      .select(col("doc_id"), round(col("score_raw"), 6).as("score"),
        nHits.as("n_hits"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  // ------------------------------------------------- hybrid retrieval

  /** Deterministic, data-independent query embedding for the gated
    * hybrid query — the same dyadic-grid keyed-hash scheme as
    * [[Clustering.fixedCentroids]] (every coordinate k/1024 − 0.5, so
    * the decimal literals interpolated into the oracle parse back
    * bit-identical).
    */
  private[graft] def queryVector(dim: Int = 64): Array[Double] =
    Array.tabulate(dim)(d => HashGrid.point(s"hq:$d"))

  /** Hybrid lexical+semantic retrieval via reciprocal-rank fusion
    * (Cormack et al. 2009): BM25 candidates and cosine-vs-query-vector
    * candidates are each ranked, then fused with
    * rrf(d) = Σ_lists 1/(rrfK + rank_list(d)) over the lists containing
    * d. RRF is THE standard way to combine rankings with incomparable
    * scores — no score normalization to tune, and a doc ranked well by
    * either view surfaces.
    *
    * Scale shape: each candidate list is a TakeOrdered top-`candK`
    * (per-partition k, driver merge — never a global sort of the
    * corpus), so the ranking windows and the full-outer fusion join run
    * over ≤ 2·candK driver-bounded rows; the corpus-scale work is
    * exactly the BM25 scan pair plus one fused cosine scan over the
    * embeddings. Ranks are emitted (0 = absent from that list) so the
    * fusion is auditable; rrf itself is a two-term sum of exact
    * reciprocals, rounded at 6.
    */
  def hybridTopK(docs: DataFrame, vecs: DataFrame, terms: Seq[String],
      rrfK: Int = 60, candK: Int = 100, topK: Int = 50): DataFrame = {
    import graft.functions.VecDot.vecDot
    // both rank lists are ≤ candK rows by construction (top-k pruned /
    // LIMITed) — BoundedGlobal ranks them without unpartitioned windows
    val lex = BoundedGlobal.withRowNumber(
        bm25TopK(docs, terms, topK = candK),
        Seq(col("score").desc, col("doc_id")), "r_lex",
        maxRows = candK, "hybridTopK lexical ranks")
      .select(col("doc_id"), col("r_lex").cast("int").as("r_lex"))
    val q = queryVector()
    val qn = math.sqrt(q.map(x => x * x).sum)
    val sem = BoundedGlobal.withRowNumber(
        vecs
          .select(col("vec_id").as("doc_id"),
            (vecDot(col("embedding"), lit(q)) /
              (sqrt(vecDot(col("embedding"), col("embedding"))) * lit(qn)))
              .as("cos"))
          .orderBy(col("cos").desc, col("doc_id")).limit(candK),
        Seq(col("cos").desc, col("doc_id")), "r_sem",
        maxRows = candK, "hybridTopK semantic ranks")
      .select(col("doc_id"), col("r_sem").cast("int").as("r_sem"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("r_sem")), lit(0.0)), 6))
      .withColumn("r_lex", coalesce(col("r_lex"), lit(0)))
      .withColumn("r_sem", coalesce(col("r_sem"), lit(0)))
      .select(col("doc_id"), col("r_lex"), col("r_sem"), col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(topK)
  }

  // ------------------------------------------ late-interaction (MaxSim)

  /** Token sub-vectors per embedding for the MaxSim gate: the 64-d
    * vector is read as [[MaxSimTokens]] contiguous 16-d token vectors —
    * the storage layout a ColBERT-style multi-vector index uses (flat
    * array + fixed stride), stood in here on the single-vector fixture.
    */
  val MaxSimTokens = 4
  private val MaxSimSubDim = 16

  /** Late-interaction (ColBERT-style MaxSim) retrieval: score(q, d) =
    * Σ_i max_j ⟨q_i, d_j⟩ over the token sub-vectors — the retrieval
    * family BETWEEN single-vector ANN (cheap, lossy pooling) and full
    * cross-attention (unscalable): every query token finds its best
    * match in the document independently.
    *
    * Engine-exactness: each ⟨q_i, d_j⟩ is a sequential double fold
    * floor-quantized to micro BIGINT *before* the max and sum, so the
    * whole score is integer arithmetic — the max/sum can never see
    * float-order noise. The entire 4×4 MaxSim is ONE in-row native
    * kernel ([[graft.functions.MaxSimMicro]], operation-for-operation
    * the nested aggregate/transform/array_max HOF fold it replaced —
    * which evaluated INTERPRETED, 256 lambda frames per scored pair, on
    * the hot side of the broadcast join): no explode of the token
    * dimension, no shuffle — the corpus-side cost is one codegen scan
    * per query batch, the ann_topk shape exactly.
    *
    * 100 TB path: the same two-stage funnels apply unchanged — an
    * [[graft.operators.Similarity.rpTopK]]-style shortlist or IVF cells
    * over POOLED vectors first, MaxSim as the rerank; this gate pins
    * the exact-scoring kernel those funnels rerank with.
    */
  def maxSimTopK(vecs: DataFrame, numQueries: Int = 10,
      k: Int = 10): DataFrame = {
    val queries = broadcast(vecs.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
    val scored = vecs.select(col("vec_id"), col("embedding"))
      .join(queries, col("vec_id") =!= col("q_id"))
      .withColumn("maxsim", graft.functions.MaxSimMicro.maxSim(
        col("qv"), col("embedding"), MaxSimTokens, MaxSimSubDim))
    // bounded per-query top-k aggregate, not a ranking window — the ANN
    // shape (few queries × corpus-sized scored relation); rationale and
    // A/B in Similarity.perQueryTopK
    Ranking.topKPerKey(scored, Seq("q_id"),
        struct(col("maxsim"), (-col("vec_id")).as("nid")), k)
      .select(col("q_id"), col("rk"), (-col("item.nid")).as("vec_id"),
        col("item.maxsim").as("maxsim"))
      .orderBy(col("q_id"), col("rk"))
  }

  def hybridDocs(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    hybridTopK(t.documents, t.embeddings, DefaultTerms)
  }
}
