package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Analytics, Clustering, Dedup, HeavyHitters, Monitoring, Multimodal, Packing, Posttraining, QualityModel, Relational, Retrieval, Similarity, Skew, TextAnalysis, Workloads}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[gates]] is one operator/workload from SURVEY.md §2's
  * inventory (or a pipeline extension) with the DuckDB equivalent the
  * correctness gate hash-compares against at sf0.01. Column names and
  * rounding are aligned on both sides by construction.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One gate: an operator or workload from SURVEY.md §2's inventory (or
    * a pipeline extension) as the Spark function `run(spark, sfDir)`,
    * and `oracleSql`, its DuckDB equivalent over the same parquet tables,
    * which the correctness gate hash-compares against at sf0.01.
    *
    * `cachedIntermediate` marks a gate whose timed Bench pass reads a
    * PlanCache-warm materialized intermediate built during the warm-up
    * pass (the near-dup pair table, the sentence segmentation, the
    * sorted-turns table of the post-training family), the production
    * landed-intermediate shape. Its warm time prices the downstream
    * computation only; the full recompute is priced by the uncached
    * gates (dedup_prefix, sent_segment) and by Bench's cold_total. Bench
    * names these gates in its artifact so round-over-round totals can
    * separate accounting moves from plan wins.
    */
  final case class Gate(name: String, run: (SparkSession, String) => DataFrame,
      oracleSql: String, cachedIntermediate: Boolean = false)

  /** The gate table from its entries, refusing a repeated name (a map
    * literal would silently keep only one of the two).
    */
  private[graft] def registry(entries: Gate*): Seq[Gate] = {
    val repeated = entries.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(repeated.isEmpty,
      s"gate names registered twice: ${repeated.toSeq.sorted.mkString(", ")}")
    entries
  }

  /** Gate name → Spark function: a view over [[gates]]. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.run).toMap

  /** Gate name → DuckDB SQL: a view over [[gates]]. */
  lazy val oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracleSql).toMap

  /** The engine-portable 60-bit md5 digest, DuckDB spelling — the same
    * value graft computes as `conv(substr(md5(x),1,15),16,10)::long`
    * (see [[operators.TextAnalysis.md5_60]]).
    */
  private def duckMd5_60(x: String): String =
    s"('0x' || substr(md5($x), 1, 15))::BIGINT"

  /** Per-language sampling rates for `strat_sample` — defined once so the
    * Spark gate and the interpolated oracle thresholds can never drift.
    */
  private val StratFractions: Map[String, Double] =
    Map("en" -> 0.2, "fr" -> 0.5, "es" -> 0.5, "de" -> 0.5, "zh" -> 0.4)

  /** Oracle-side CASE with the SAME long truncation of bucket-count ×
    * fraction the Spark gate applies ((1e6 · f).cast(long)).
    */
  private def stratCaseSql: String =
    StratFractions.toSeq.sorted
      .map { case (l, f) => s"WHEN '$l' THEN ${(1000000L * f).toLong}" }
      .mkString("CASE lang ", " ", " ELSE 0 END")

  /** Token budget for the gated `pack_shards` query (both sides). */
  private val PackBudget = 512L

  /** Sequence length for the gated `pack_sequences` query (both sides). */
  private val SeqLen = 256L

  /** Per-language token budget for the gated `mix_budget` query (both
    * sides) — a strict subset of every language at sf0.01 (totals run
    * 3.5k–11.8k tokens/lang there).
    */
  private val MixBudget = 2000L

  /** Total token budget for the gated `mix_temperature` query — below
    * every fixture's corpus total (24k–270k tokens), so all sources get
    * a fractional admission rate and the gate exercises the cut.
    */
  private val MixTempBudget = 10000L

  /** Total token budget for the gated `mix_upsample` query — ABOVE the
    * sf0.001/sf0.01 corpus totals (~24–27k tokens), so repeat factors
    * exceed 1 and the epoch-upsampling path is exercised; at sf0.1 the
    * same arithmetic degenerates to fractional sampling (copy = 1).
    */
  private val MixUpBudget = 60000L

  /** Per-batch token budget for the gated `length_batches` query. */
  private val LengthBatchBudget = 2048L

  /** Weights/names for the gated `split_assign` query; the oracle's CASE
    * thresholds are derived from the SAME scanLeft + (1e6·cum).toLong
    * arithmetic Sampling.splitAssign runs, so binary rounding of the
    * cumulative weights can never skew the compare.
    */
  private val SplitWeights = Seq(0.8, 0.1, 0.1)
  private val SplitNames = Seq("train", "val", "test")

  /** One CASE-threshold chain for both split oracles — cuts derive from
    * the SAME scanLeft + (1e6·cum).toLong arithmetic Sampling.splitAssign
    * runs, built once so the row split and the grouped split can never
    * drift on the threshold rule.
    */
  private def splitCaseSql: String = {
    val cuts = SplitWeights.scanLeft(0.0)(_ + _).map(c => (1000000L * c).toLong)
    val cases = SplitNames.init.zip(cuts.tail.init)
      .map { case (n, hi) => s"WHEN m < $hi THEN '$n'" }
      .mkString(" ")
    s"CASE $cases ELSE '${SplitNames.last}' END"
  }

  /** [[splitCaseSql]] as a self-contained expression over an arbitrary id
    * column — the split label derived in-row (the Sampling.splitOf twin),
    * so pair-table oracles can label both sides without joining back to
    * an assignment table.
    */
  private def splitCaseOnSql(idCol: String, salt: String = "split:"): String = {
    val cuts = SplitWeights.scanLeft(0.0)(_ + _).map(c => (1000000L * c).toLong)
    val m = s"(${duckMd5_60(s"'$salt' || CAST($idCol AS VARCHAR)")} % 1000000)"
    val cases = SplitNames.init.zip(cuts.tail.init)
      .map { case (n, hi) => s"WHEN $m < $hi THEN '$n'" }
      .mkString(" ")
    s"(CASE $cases ELSE '${SplitNames.last}' END)"
  }

  /** The adaptive (derived-df-cap) Jaccard pair machinery as a CTE
    * chain — ends at `inter` (verified pair intersections) and `sizes`;
    * `dedup_jaccard` appends its SELECT. (`split_leak_audit` moved to
    * [[uncappedJaccardPairsOracle]] when the audit became a reader of
    * the exact prefix screen's landed pair table.)
    */
  private def jaccardAdaptiveCteSql: String =
    s"""WITH sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                 FROM documents),
                UNNEST(generate_series(1, len(w) - 2)) AS t(i)
           WHERE len(w) >= 3),
         dfr AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
         hist AS (SELECT df, count(*) AS ns FROM dfr GROUP BY df),
         capq AS (
           SELECT greatest(least(
               coalesce(min(CASE WHEN cum_ns * 1000 >= 999 * tot_ns
                 THEN df END), 1),
               coalesce(max(CASE WHEN cum_pairs <=
                   (SELECT count(*) FROM documents)
                     * ${graft.operators.Dedup.JaccardPairsPerDoc}
                 THEN df END), 1)),
             2) AS cap
           FROM (SELECT df,
                   sum(ns) OVER (ORDER BY df) AS cum_ns,
                   (SELECT sum(ns) FROM hist) AS tot_ns,
                   sum(ns * (df * (df - 1) // 2)) OVER (ORDER BY df)
                     AS cum_pairs
                 FROM hist)),
         rare AS (SELECT shingle FROM dfr
                  WHERE df <= (SELECT cap FROM capq)),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sh a
           JOIN rare r ON r.shingle = a.shingle
           JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT c.doc_a, c.doc_b, count(*) AS n_inter
           FROM cand c
           JOIN sh a ON a.doc_id = c.doc_a
           JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
           GROUP BY 1, 2)"""

  /** The UNCAPPED exact Jaccard pair set at threshold 4/5 — the oracle
    * for the prefix screen (zero recall loss, so the full pair set IS
    * its specification) and for every reader of the landed pair table
    * (`split_leak_audit`). Stated without any cap or prefix machinery:
    * DuckDB never reproduces the xxhash64 prefix order; a single pair
    * the prefix/positional filters wrongly dropped hash-mismatches.
    */
  private def uncappedJaccardPairsOracle: String =
    """WITH sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents),
                UNNEST(generate_series(1, len(w) - 2)) AS t(i)
           WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
           FROM sh a
           JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b,
                round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 6) AS jac
         FROM inter
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.8
         ORDER BY doc_a, doc_b"""

  private def splitAssignOracleSql: String =
    s"""SELECT doc_id, $splitCaseSql AS split
       FROM (SELECT doc_id,
               ${duckMd5_60("'split:' || CAST(doc_id AS VARCHAR)")} % 1000000
                 AS m
             FROM documents)
       ORDER BY doc_id"""

  /** Logistic-quality-scorer oracle, generated from the SAME
    * [[graft.operators.QualityModel.GateWeights]] the Spark entry scores
    * with (Double.toString round-trips exactly, so the literals parse
    * back to identical doubles in DuckDB).
    */
  private def qualityLogitOracleSql: String = {
    val w = operators.QualityModel.GateWeights
    s"""WITH f AS (
         SELECT doc_id,
           ln(1.0 + len(w)) AS f1,
           CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS f2,
           CAST(len(list_filter(w, t -> len(t) >= 3)) AS DOUBLE) / len(w)
             AS f3
         FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
               FROM documents)),
       s AS (SELECT doc_id,
               ${w(0)} + ${w(1)} * f1 + ${w(2)} * f2 + ${w(3)} * f3 AS z
             FROM f)
       SELECT doc_id, round(z, 6) AS z,
         round(1.0 / (1.0 + exp(-z)), 4) AS prob,
         CASE WHEN z > 0 THEN 1 ELSE 0 END AS keep
       FROM s ORDER BY doc_id"""
  }

  /** Wide variant of [[qualityLogitOracleSql]] for the gated STREAMING
    * admission (`stream_quality`): same model and rounding, but the
    * original columns ride through and only admitted rows (z > 0 on the
    * unrounded score) land — matching
    * [[operators.QualityModel.logitScoreWide]] + keep filter.
    */
  private def streamQualityOracleSql: String = {
    val w = operators.QualityModel.GateWeights
    s"""WITH f AS (
         SELECT doc_id, text, lang, source, n_chars,
           ln(1.0 + len(w)) AS f1,
           CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS f2,
           CAST(len(list_filter(w, t -> len(t) >= 3)) AS DOUBLE) / len(w)
             AS f3
         FROM (SELECT doc_id, text, lang, source, n_chars,
                 regexp_split_to_array(trim(text), '\\s+') AS w
               FROM documents)),
       s AS (SELECT doc_id, text, lang, source, n_chars,
               ${w(0)} + ${w(1)} * f1 + ${w(2)} * f2 + ${w(3)} * f3 AS z
             FROM f)
       SELECT doc_id, text, lang, source, n_chars, round(z, 6) AS z,
         round(1.0 / (1.0 + exp(-z)), 4) AS prob, 1 AS keep
       FROM s WHERE z > 0 ORDER BY doc_id"""
  }

  /** Ordered-funnel oracle — shared verbatim by the batch
    * (`funnel_stages`) and streaming (`stream_funnel`) gates: the
    * mapGroupsWithState state machine must land the same per-user
    * frontier the batch min-chain computes.
    */
  private val funnelOracleSql: String =
    """WITH ev AS (
         SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
       v AS (SELECT user_id, min(us) AS v_us FROM ev
             WHERE event_type = 'view' GROUP BY 1),
       c AS (SELECT ev.user_id, min(us) AS c_us FROM ev
             JOIN v ON ev.user_id = v.user_id
             WHERE event_type = 'click' AND us > v_us GROUP BY 1),
       p AS (SELECT ev.user_id, min(us) AS p_us FROM ev
             JOIN c ON ev.user_id = c.user_id
             WHERE event_type = 'purchase' AND us > c_us GROUP BY 1)
       SELECT u.user_id,
         CASE WHEN p_us IS NOT NULL THEN 3 WHEN c_us IS NOT NULL THEN 2
              WHEN v_us IS NOT NULL THEN 1 ELSE 0 END AS stage,
         coalesce(v_us, -1) AS v_us, coalesce(c_us, -1) AS c_us,
         coalesce(p_us, -1) AS p_us
       FROM (SELECT DISTINCT user_id FROM ev) u
       LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
       LEFT JOIN p USING (user_id)
       ORDER BY u.user_id"""

  /** End-to-end curation pipeline oracle: all four stages restated in
    * one CTE chain — min-doc_id-per-md5 dedup, string-equality shingle
    * decontamination (the xxhash64 substitution the decon gates already
    * re-check), the [[operators.QualityModel.GateWeights]] model, and
    * the 50% `cur:` md5 gate.
    */
  private def pipelineCurateOracleSql: String = {
    val w = operators.QualityModel.GateWeights
    s"""WITH keep AS (
         SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       ded AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
       sh AS (
         SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
         FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
               FROM documents),
              UNNEST(generate_series(1, len(w) - 4)) AS t(i)
         WHERE len(w) >= 5),
       contaminated AS (
         SELECT DISTINCT t.doc_id
         FROM sh t JOIN sh e ON t.shingle = e.shingle
         WHERE t.doc_id % 20 != 0 AND e.doc_id % 20 = 0),
       clean AS (
         SELECT * FROM ded WHERE doc_id % 20 != 0
           AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
       f AS (
         SELECT doc_id, lang, source, text,
           ln(1.0 + len(w)) AS f1,
           CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS f2,
           CAST(len(list_filter(w, t -> len(t) >= 3)) AS DOUBLE) / len(w)
             AS f3
         FROM (SELECT doc_id, lang, source, text,
                 regexp_split_to_array(trim(text), '\\s+') AS w
               FROM clean)),
       s AS (SELECT doc_id, lang, source, text,
               ${w(0)} + ${w(1)} * f1 + ${w(2)} * f2 + ${w(3)} * f3 AS z
             FROM f)
       SELECT doc_id, lang, source,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
           AS tok,
         round(z, 6) AS z
       FROM s
       WHERE z > 0
         AND ${duckMd5_60("'cur:' || CAST(doc_id AS VARCHAR)")} % 1000000
             < 500000
       ORDER BY doc_id"""
  }

  /** Streaming curation pipeline oracle: dedup + quality + decon per
    * distinct-TEXT class — all emitted columns are text functions, so
    * the class projection (fp, z, prob) is the deterministic face of
    * the arrival-order-dependent survivor choice. Contamination is
    * unrestricted on the train side (an eval doc contaminates itself).
    */
  private def streamPipelineOracleSql: String = {
    val w = operators.QualityModel.GateWeights
    s"""WITH sh AS (
         SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
         FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
               FROM documents),
              UNNEST(generate_series(1, len(w) - 4)) AS t(i)
         WHERE len(w) >= 5),
       contaminated AS (
         SELECT DISTINCT t.doc_id
         FROM sh t JOIN sh e ON t.shingle = e.shingle
         WHERE e.doc_id % 20 = 0),
       f AS (
         SELECT doc_id, text,
           ln(1.0 + len(w)) AS f1,
           CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS f2,
           CAST(len(list_filter(w, t -> len(t) >= 3)) AS DOUBLE) / len(w)
             AS f3
         FROM (SELECT doc_id, text,
                 regexp_split_to_array(trim(text), '\\s+') AS w
               FROM documents)),
       s AS (SELECT doc_id, text,
               ${w(0)} + ${w(1)} * f1 + ${w(2)} * f2 + ${w(3)} * f3 AS z
             FROM f)
       SELECT DISTINCT md5(text) AS fp, round(z, 6) AS z,
         round(1.0 / (1.0 + exp(-z)), 4) AS prob
       FROM s
       WHERE z > 0
         AND doc_id NOT IN (SELECT doc_id FROM contaminated)
       ORDER BY fp"""
  }

  /** The grouped (leakage-safe) split oracle: identical CASE thresholds,
    * but the bucket hashes the SOURCE — every doc of a source follows its
    * group, which is the whole point of the operator.
    */
  private def groupSplitOracleSql: String =
    s"""SELECT doc_id, source, $splitCaseSql AS split
       FROM (SELECT doc_id, source,
               ${duckMd5_60("'gsplit:' || source")} % 1000000 AS m
             FROM documents)
       ORDER BY doc_id"""

  /** BM25 CTE chain ending in `lexscored(doc_id, score, n_hits)`,
    * generated from the SAME term list the Spark entry uses and shared
    * by the bm25_topk and hybrid_topk oracles so the scoring definition
    * cannot drift. Score arithmetic mirrors
    * [[graft.operators.Retrieval.bm25TopK]] operation-for-operation
    * (left-to-right term sum, same association) — all inputs are
    * integer-valued doubles, so only ln() is approximate and the emitted
    * score is rounded to 6 decimals.
    */
  private def bm25OracleCtes: String = {
    val ts = Retrieval.DefaultTerms
    val tfDefs = ts.indices.map(i =>
      s"CAST(len(list_filter(toks, t -> t = '${ts(i)}')) AS DOUBLE) AS tf$i")
      .mkString(",\n             ")
    val dfDefs = ts.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
      .mkString(",\n             ")
    val score = ts.indices.map(i =>
      s"ln((n - df$i + 0.5) / (df$i + 0.5) + 1) * (tf$i * (1.2 + 1)) " +
        s"/ (tf$i + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))")
      .mkString(" + ")
    val nHits = ts.indices.map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""d AS (
         SELECT doc_id,
           list_filter(regexp_split_to_array(trim(text), '\\s+'),
             t -> len(t) > 0) AS toks
         FROM documents),
       b AS (
         SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
             $tfDefs
         FROM d),
       s AS (
         SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(dl) / count(*) AS avgdl,
             $dfDefs
         FROM b),
       lexscored AS (
         SELECT doc_id, round($score, 6) AS score, $nHits AS n_hits
         FROM b, s
         WHERE $score > 0)"""
  }

  private def bm25OracleSql: String =
    s"""WITH $bm25OracleCtes
       SELECT doc_id, score, n_hits FROM lexscored
       ORDER BY score DESC, doc_id LIMIT 100"""

  /** RRF fusion of the BM25 candidates with cosine-vs-fixed-query-vector
    * candidates (query vector inlined as exact dyadic decimals, its norm
    * as the shortest-roundtrip double literal — both parse back
    * bit-identical). Reciprocal terms are computed in double on both
    * engines (explicit CASTs keep DuckDB out of DECIMAL arithmetic).
    */
  private def hybridOracleSql: String = {
    val q = Retrieval.queryVector()
    val qn = math.sqrt(q.map(x => x * x).sum)
    s"""WITH $bm25OracleCtes,
       lex AS (
         SELECT doc_id,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
             AS r_lex
         FROM (SELECT doc_id, score FROM lexscored
               ORDER BY score DESC, doc_id LIMIT 100)),
       sem0 AS (
         SELECT vec_id AS doc_id,
           list_sum(list_transform(generate_series(1, 64),
             d -> CAST(embedding[d] AS DOUBLE) * ([${q.mkString(", ")}])[d]))
           / (sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * $qn) AS cos
         FROM embeddings),
       semtop AS (
         SELECT doc_id, cos FROM sem0 ORDER BY cos DESC, doc_id LIMIT 100),
       sem AS (
         SELECT doc_id,
           CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INT)
             AS r_sem
         FROM semtop),
       fused AS (
         SELECT coalesce(l.doc_id, m.doc_id) AS doc_id,
           CAST(coalesce(l.r_lex, 0) AS INT) AS r_lex,
           CAST(coalesce(m.r_sem, 0) AS INT) AS r_sem,
           round(
             coalesce(CAST(1 AS DOUBLE) / (60 + l.r_lex), 0.0)
             + coalesce(CAST(1 AS DOUBLE) / (60 + m.r_sem), 0.0), 6) AS rrf
         FROM lex l FULL OUTER JOIN sem m ON l.doc_id = m.doc_id)
       SELECT doc_id, r_lex, r_sem, rrf FROM fused
       ORDER BY rrf DESC, doc_id LIMIT 50"""
  }

  /** Shared CTE chain for the sentence family: synthesize the punctuated
    * corpus exactly as [[operators.Sentences.sentenced]] does (md5-60
    * boundary gate on (token, position), terminal token always ends a
    * sentence), then segment it with the same `[^.!?]+[.!?]?` extraction
    * the Spark operator runs. Ends in
    * `sents(doc_id, sent_id, sentence, n_tokens)`.
    */
  private def sentenceCtes: String =
    s"""toks AS (
         SELECT doc_id, i, w[i] AS t, len(w) AS n
         FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
               FROM documents),
              UNNEST(generate_series(1, len(w))) AS s(i)),
       pt AS (
         SELECT doc_id, i,
           t || CASE WHEN ${duckMd5_60(
             "'sent:' || t || ':' || CAST(i AS VARCHAR)")}
                 % ${operators.Sentences.SentenceEvery} = 0
               OR i = n THEN '.' ELSE '' END AS t2
         FROM toks),
       sdoc AS (
         SELECT doc_id, string_agg(t2, ' ' ORDER BY i) AS text
         FROM pt GROUP BY doc_id),
       sents AS (
         SELECT doc_id, i AS sent_id, trim(arr[i]) AS sentence,
           CAST(len(regexp_split_to_array(trim(arr[i]), '\\s+')) AS BIGINT)
             AS n_tokens
         FROM (SELECT doc_id,
                 regexp_extract_all(text, '[^.!?]+[.!?]?') AS arr
               FROM sdoc),
              UNNEST(generate_series(1, len(arr))) AS s2(i))"""

  /** BPE-encode oracle: the greedy leftmost non-overlapping merge fold,
    * restated as a chain of [[operators.TextAnalysis.PinnedBpeMerges]]
    * `replace`s over a delimiter-wrapped symbol string. Each symbol is
    * wrapped as ␟sym␟ (chr(31), absent from the corpus alphabet), so
    * word "ab" becomes "␟a␟␟b␟"; merge (a,b) is
    * replace("␟a␟␟b␟" → "␟ab␟"). SQL `replace` scans left to right and
    * resumes AFTER each replacement — exactly the fold's semantics: a
    * just-merged symbol can't re-merge within the same round (it would
    * need a = a+b), and each symbol's own delimiters keep adjacent
    * matches from stealing a shared boundary. Validated against an
    * independent fold implementation over the full fixture vocabulary.
    * n_bpe = symbol count of the final wrapped string; the corpus side
    * is the same word-explode + integer sums as wc_wordcount.
    */
  /** Unigram-LM Viterbi DP restated in DuckDB: the identical packed
    * integer min-plus recurrence (cost·1024 + n_pieces — see
    * [[operators.TextAnalysis.unigramW]]) unrolled to
    * UnigramMaxWordLen sequential CTE steps, one dp column per
    * character position; pieces interpolated from the same pinned
    * inventory, so both engines run one DP definition.
    */
  private def unigramEncodeOracleSql: String = {
    import operators.TextAnalysis._
    val huge = Long.MaxValue
    def pieceCase(len: Int, i: Int): String = {
      val items = UnigramPieces.toSeq.filter(_._1.length == len).sortBy(_._1)
        .map { case (p, c) => s"WHEN '$p' THEN ${unigramW(c)}" }.mkString(" ")
      s"CASE substr(word, ${i - len + 1}, $len) $items END"
    }
    val steps = (1 to UnigramMaxWordLen).map { i =>
      val single = s"v${i - 1} + CASE WHEN substr(word, $i, 1) BETWEEN 'a' AND 'z' " +
        s"THEN ${unigramW(UnigramCharCost)} ELSE ${unigramW(UnigramUnkCost)} END"
      val multi = (2 to 4).filter(_ <= i).map(l =>
        s"coalesce(v${i - l} + ${pieceCase(l, i)}, $huge)")
      val cands = (single +: multi).mkString(",\n             ")
      s"d$i AS (SELECT *, CASE WHEN length(word) >= $i THEN least(\n             $cands) END AS v$i FROM d${i - 1})"
    }.mkString(",\n         ")
    val finalCase = (1 to UnigramMaxWordLen)
      .map(i => s"WHEN $i THEN v$i").mkString(" ")
    s"""WITH words AS (
         SELECT doc_id, word
         FROM (SELECT doc_id,
                 unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
               FROM documents)
         WHERE length(word) > 0),
       d0 AS (SELECT DISTINCT word, CAST(0 AS BIGINT) AS v0 FROM words),
       $steps,
       sizes AS (
         SELECT word,
           CASE length(word) $finalCase END AS vf
         FROM d${UnigramMaxWordLen})
       SELECT doc_id, count(*) AS n_words,
         CAST(sum(vf % 1024) AS BIGINT) AS n_pieces,
         CAST(sum(vf // 1024) AS BIGINT) AS cost_micro
       FROM words JOIN sizes USING (word)
       GROUP BY doc_id ORDER BY doc_id"""
  }

  /** WordPiece greedy scan restated in DuckDB: the identical packed
    * integer state machine (pos·2^20 + n_pieces·2^10 + n_unk) unrolled
    * to WordpieceMaxWordLen CTE steps; each step splices the SAME
    * [[operators.TextAnalysis.wpStepDuck]] fragment the Spark fold
    * uses (with the initial-vs-continuation inventory resolved
    * statically per step), so both engines run one scanner definition.
    */
  private def wordpieceEncodeOracleSql: String = {
    import operators.TextAnalysis._
    val steps = (1 to WordpieceMaxWordLen).map { k =>
      s"""w$k AS (SELECT *, CASE WHEN $k > length(word)
             OR $k < s${k - 1} // 1048576 THEN s${k - 1}
           ELSE s${k - 1} + ${wpStepDuck(k)} END AS s$k FROM w${k - 1})"""
    }.mkString(",\n       ")
    s"""WITH words AS (
         SELECT doc_id, word
         FROM (SELECT doc_id,
                 unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
               FROM documents)
         WHERE length(word) > 0),
       w0 AS (SELECT DISTINCT word, CAST(1048576 AS BIGINT) AS s0 FROM words),
       $steps,
       sizes AS (
         SELECT word, s$WordpieceMaxWordLen AS wf FROM w$WordpieceMaxWordLen)
       SELECT doc_id, count(*) AS n_words,
         CAST(sum(wf // 1024 % 1024) AS BIGINT) AS n_pieces,
         CAST(sum(wf % 1024) AS BIGINT) AS n_unk
       FROM words JOIN sizes USING (word)
       GROUP BY doc_id ORDER BY doc_id"""
  }

  private def bpeEncodeOracleSql: String = {
    val d = "chr(31)"
    val dd = s"$d || $d"
    val wrapped = s"$d || array_to_string(string_split(word, ''), $dd) || $d"
    val chain = operators.TextAnalysis.PinnedBpeMerges.foldLeft(wrapped) {
      case (acc, (a, b)) =>
        s"replace($acc, $d || '$a' || $dd || '$b' || $d, $d || '$a$b' || $d)"
    }
    s"""WITH words AS (
         SELECT doc_id, word
         FROM (SELECT doc_id,
                 unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
               FROM documents)
         WHERE length(word) > 0),
       vocab AS (SELECT DISTINCT word FROM words),
       seg AS (SELECT word, $chain AS s FROM vocab),
       sizes AS (
         SELECT word,
           CAST(len(string_split(trim(s, $d), $dd)) AS BIGINT) AS n_bpe
         FROM seg)
       SELECT doc_id, count(*) AS n_words,
         CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens
       FROM words JOIN sizes USING (word)
       GROUP BY doc_id ORDER BY doc_id"""
  }

  /** Per-language fertility restatement: the `bpe_encode` oracle's CTE
    * chain (same pinned-merge replace fold) rolled up to languages —
    * the two gates share the segmentation spelling via this reuse.
    */
  private def bpeFertilityOracleSql: String =
    s"""WITH perdoc AS ($bpeEncodeOracleSql)
       SELECT d.lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(p.n_words) AS BIGINT) AS n_words,
         CAST(sum(p.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
         (CAST(sum(p.n_bpe_tokens) AS BIGINT) * 1000000)
           // CAST(sum(p.n_words) AS BIGINT) AS fertility_micro
       FROM perdoc p JOIN documents d USING (doc_id)
       GROUP BY d.lang ORDER BY d.lang"""

  /** Quality-score oracle body — shared by `text_quality` and
    * `quality_ntile` so the score definition can't drift between them.
    */
  /** Shared by `decon_survivors` and `decon_bloom`: the bloom path's
    * contract is bit-equality with the exact path, enforced by gating
    * both against this single string.
    */
  private val deconOracleSql: String =
    """WITH sh AS (
         SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
         FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
               FROM documents),
              UNNEST(generate_series(1, len(w) - 4)) AS t(i)
         WHERE len(w) >= 5),
       contaminated AS (
         SELECT DISTINCT t.doc_id
         FROM sh t JOIN sh e ON t.shingle = e.shingle
         WHERE t.doc_id % 20 != 0 AND e.doc_id % 20 = 0)
       SELECT doc_id FROM documents
       WHERE doc_id % 20 != 0
         AND doc_id NOT IN (SELECT doc_id FROM contaminated)
       ORDER BY doc_id"""

  private val qualityOracleBody: String =
    """SELECT doc_id,
       round((CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
            + CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1)
            + CAST(len(list_filter(w, t -> length(t) >= 3)) AS DOUBLE) / len(w)) / 3.0, 4) AS quality
       FROM (SELECT doc_id, text,
                    regexp_split_to_array(trim(text), '\s+') AS w
             FROM documents)"""

  /** SimHash replicated in SQL: per-bit sign sums, then bit assembly —
    * generated once here so the constants (60 bits) can never drift from
    * [[operators.Dedup.SimhashBits]].
    */
  /** The shared SimHash CTE chain (`tok`/`bits`/`sh(doc_id, simhash)`) —
    * one SQL spelling of the fingerprint for both the batch pair gate
    * and the streaming quarantine gate, so the two can never drift on
    * tokenization or bit assembly.
    */
  private def simhashShCtes: String = {
    val bits = operators.Dedup.SimhashBits
    val bitSums = (0 until bits)
      .map(i => s"sum(CASE WHEN (th >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS s$i")
      .mkString(",\n             ")
    val assemble = (0 until bits)
      .map(i => s"CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    s"""WITH tok AS (
           SELECT doc_id, ${duckMd5_60("t")} AS th
           FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
                 FROM documents)
           WHERE length(t) > 0),
         bits AS (
           SELECT doc_id,
             $bitSums
           FROM tok GROUP BY doc_id),
         sh AS (SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM bits)"""
  }

  private def simhashOracle: String =
    s"""$simhashShCtes
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         ORDER BY doc_a, doc_b"""

  /** Streaming SimHash quarantine oracle: same `sh` fingerprints cut
    * into four 15-bit bands; a hit is (doc, band) where some EARLIER
    * doc shares the band bucket within hamming ≤ 3, and the matched doc
    * is the LARGEST such earlier id — the stream's per-bucket state is
    * a newest-first list probed with find, so the most recent earlier
    * arrival wins. arg_max carries that candidate's hamming out.
    */
  private def streamQuarantineOracle: String =
    s"""$simhashShCtes,
         banded AS (
           SELECT doc_id, simhash,
             CAST(b.band AS INT) AS band,
             (simhash >> (b.band * 15)) & 32767 AS bh
           FROM sh, (SELECT unnest(generate_series(0, 3)) AS band) b),
         hits AS (
           SELECT d.doc_id, d.band, e.doc_id AS cand,
             CAST(bit_count(xor(d.simhash, e.simhash)) AS INT) AS h
           FROM banded d JOIN banded e
             ON d.band = e.band AND d.bh = e.bh AND e.doc_id < d.doc_id
           WHERE bit_count(xor(d.simhash, e.simhash)) <= 3)
         SELECT doc_id, band, arg_max(cand, cand) AS matched_doc,
           arg_max(h, cand) AS hamming
         FROM hits GROUP BY doc_id, band
         ORDER BY doc_id, band"""

  /** Random-hyperplane LSH replicated in SQL. The hyperplane weights are
    * deterministic driver-side constants ([[operators.Similarity
    * .planeWeights]]); they are inlined as a literal VALUES table, so the
    * oracle exercises the exact same planes without needing xxhash64 in
    * DuckDB. Dot products evaluate left-to-right in double on both
    * engines (VecDot ≡ list_sum∘list_transform), so the sign of every
    * signature bit — and hence bucket membership, candidates and the
    * final rerank — matches bit-for-bit.
    */
  /** Exact brute-force cosine top-k — also the baseline CTE inside the
    * ann_recall audit, so the two spellings can never drift.
    */
  /** PQ/ADC top-k oracle chain — shared by the `pq_adc_topk` gate, the
    * `ann_recall_pq` audit, and (at shortlist width) the
    * `pq_rerank_topk` funnel's stage 1, so the spellings can never
    * drift. `limit` is the per-query cut: 10 for the gate, 50 for the
    * rerank shortlist.
    */
  private def pqAdcOracle: String = pqAdcChainOracle("10")

  /** The dyadic-grid chain: literal VALUES cents + the shared ADC body. */
  private def pqAdcChainOracle(limit: String): String =
    s"""WITH cents(sub, c_id, c, c2) AS (VALUES
           ${pqCentroidValues()}),
         ${pqAdcBodyCtes(limit)}"""

  /** TRAINED-book chain (`pq_trained_rerank` stage 1): the four
    * per-subspace Lloyd chains of the `pq_trained_codes` oracle supply
    * `cents` (MATERIALIZED — the body reads it twice, for corpus codes
    * and query tables, and inlining would replay all four trainings
    * twice), then the identical shared ADC body: one spelling of
    * score → code → table → adist for both book families, so the
    * oracles can never drift where the Scala paths share
    * [[operators.Similarity]]'s funnel core.
    */
  private def pqTrainedAdcOracle(limit: String): String = {
    val m = 4; val k = 16; val iters = 2; val subDim = 16
    val chains = (0 until m).flatMap { j =>
      val vExpr = s"list_transform(generate_series(${j * subDim + 1}, " +
        s"${(j + 1) * subDim}), d -> CAST(embedding[d] AS DOUBLE))"
      kmeansChainCtes(s"p$j", k, iters, subDim, vExpr)
    }
    val union = (0 until m)
      .map(j => s"SELECT $j AS sub, c_id, c, c2 FROM p${j}c$iters")
      .mkString("\n           UNION ALL ")
    (chains :+ s"cents AS MATERIALIZED (\n           $union)")
      .mkString("WITH ", ",\n     ", ",\n     ") + pqAdcBodyCtes(limit)
  }

  /** The ADC funnel body as CTE text, assuming a `cents(sub, c_id, c,
    * c2)` CTE is in scope (dyadic VALUES or trained chains): corpus
    * codes by argmin, per-query micro lookup tables, integer adist sum,
    * per-query rank cut at `limit`.
    */
  private def pqAdcBodyCtes(limit: String): String =
    s"""scored AS (
           SELECT e.vec_id, c.sub, c.c_id,
             c.c2 - 2 * list_sum(list_transform(generate_series(1, 16),
                 d -> CAST(e.embedding[c.sub * 16 + d] AS DOUBLE) * c.c[d]))
               AS dist
           FROM embeddings e CROSS JOIN cents c),
         codes AS (
           SELECT vec_id, sub, c_id FROM (
             SELECT vec_id, sub, c_id,
               row_number() OVER (PARTITION BY vec_id, sub
                 ORDER BY dist, c_id) AS rk
             FROM scored) WHERE rk = 1),
         q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
               WHERE vec_id < 10),
         tbl AS (
           SELECT q.q_id, c.sub, c.c_id,
             CAST(floor((c.c2 - 2 * list_sum(list_transform(
                 generate_series(1, 16),
                 d -> CAST(q.qe[c.sub * 16 + d] AS DOUBLE) * c.c[d])))
               * 1e6) AS BIGINT) AS t_micro
           FROM q CROSS JOIN cents c),
         adist AS (
           SELECT t.q_id, co.vec_id,
             CAST(sum(t.t_micro) AS BIGINT) AS adist_micro
           FROM codes co
           JOIN tbl t ON t.sub = co.sub AND t.c_id = co.c_id
           WHERE t.q_id != co.vec_id
           GROUP BY t.q_id, co.vec_id),
         ranked AS (
           SELECT q_id, vec_id, adist_micro,
             row_number() OVER (PARTITION BY q_id
               ORDER BY adist_micro, vec_id) AS rk
           FROM adist)
         SELECT q_id, rk, vec_id, adist_micro FROM ranked
         WHERE rk <= ($limit) ORDER BY q_id, rk"""

  /** Exact squared-L2 top-10 baseline (x·x − 2·x·q + q·q, each dot the
    * same fixed-order list_sum as Spark's vec_dot, floor-micro-
    * quantized, vec_id ties) — shared by the `ann_recall_pq` and
    * `ann_recall_pq_rerank` audits.
    */
  private val exactL2TopkOracle: String =
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qe
                  FROM embeddings WHERE vec_id < 10)
       SELECT q_id, neighbor_id FROM (
         SELECT q.q_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             CAST(floor((
               list_sum(list_transform(generate_series(1, 64),
                 d -> CAST(e.embedding[d] AS DOUBLE) * CAST(e.embedding[d] AS DOUBLE)))
               - 2 * list_sum(list_transform(generate_series(1, 64),
                 d -> CAST(e.embedding[d] AS DOUBLE) * CAST(q.qe[d] AS DOUBLE)))
               + list_sum(list_transform(generate_series(1, 64),
                 d -> CAST(q.qe[d] AS DOUBLE) * CAST(q.qe[d] AS DOUBLE)))
             ) * 1e6) AS BIGINT) ASC, e.vec_id ASC) AS rk
         FROM embeddings e CROSS JOIN q
         WHERE e.vec_id != q.q_id)
       WHERE rk <= 10"""

  /** `pq_rerank_topk` oracle: the ADC chain at shortlist width feeds an
    * exact squared-L2 rerank (the exactL2 spelling verbatim) cut to the
    * final top-10 — the funnel restated stage for stage. The shortlist
    * bound replays the operator's auto-sizing (max(50, corpus/4) —
    * DuckDB `//` floors ≡ Scala `/` truncation on the non-negative
    * count) as a scalar subquery.
    */
  private def pqRerankOracle: String = pqRerankWrapOracle(pqAdcChainOracle(
    "greatest(50, (SELECT count(*) FROM embeddings) // 4)"))

  /** `pq_trained_rerank` oracle: the TRAINED-book ADC chain (four Lloyd
    * trainings + the shared body) at the operator's CONSTANT shortlist
    * width — the k-proportional number that makes the funnel scale-safe
    * — feeding the identical exact-L2 rerank wrapper.
    */
  private def pqTrainedRerankOracle: String =
    pqRerankWrapOracle(pqTrainedAdcOracle(
      operators.Similarity.PqTrainedShortlist.toString))

  /** Exact squared-L2 rerank over a shortlist subquery — stage 2 of
    * both funnels, one spelling (the exactL2 arithmetic verbatim).
    */
  private def pqRerankWrapOracle(shortQuery: String): String =
    s"""WITH short AS ($shortQuery),
         rr AS (
           SELECT s.q_id, s.vec_id,
             CAST(floor((
               list_sum(list_transform(generate_series(1, 64),
                 d -> CAST(e.embedding[d] AS DOUBLE) * CAST(e.embedding[d] AS DOUBLE)))
               - 2 * list_sum(list_transform(generate_series(1, 64),
                 d -> CAST(e.embedding[d] AS DOUBLE) * CAST(q.embedding[d] AS DOUBLE)))
               + list_sum(list_transform(generate_series(1, 64),
                 d -> CAST(q.embedding[d] AS DOUBLE) * CAST(q.embedding[d] AS DOUBLE)))
             ) * 1e6) AS BIGINT) AS d2_micro
           FROM short s
           JOIN embeddings e ON e.vec_id = s.vec_id
           JOIN embeddings q ON q.vec_id = s.q_id),
         reranked AS (
           SELECT q_id, vec_id, d2_micro,
             row_number() OVER (PARTITION BY q_id
               ORDER BY d2_micro, vec_id) AS rk
           FROM rr)
         SELECT q_id, rk, vec_id, d2_micro FROM reranked
         WHERE rk <= 10 ORDER BY q_id, rk"""

  private val annTopkOracle: String =
    """WITH base AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
           FROM embeddings),
         scored AS (
           SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, 64),
                 d -> CAST(c.embedding[d] AS DOUBLE) * CAST(q.embedding[d] AS DOUBLE)))
               / (c.norm * q.norm), 4) AS cos
           FROM base q JOIN base c ON q.vec_id < 10 AND c.vec_id != q.vec_id),
         ranked AS (
           SELECT q_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos DESC, neighbor_id) AS rk
           FROM scored)
         SELECT q_id, rk, neighbor_id, cos FROM ranked
         WHERE rk <= 10 ORDER BY q_id, rk"""

  /** Ratio-margin selection chain shared by the `bitext_mine` /
    * `bitext_mine_ivf` oracles: `candCtes` must define a `pos` CTE of
    * positive (x_id, y_id, cos_micro) candidate rows (it may lean on
    * the `base` CTE, which is prepended here); the chain restates
    * [[operators.Similarity]]'s marginMine arithmetic exactly.
    */
  private def bitextOracle(candCtes: String): String = {
    val k = operators.Similarity.BitextMarginK
    s"""WITH base AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
           FROM embeddings),
         $candCtes,
         rx AS (
           SELECT *,
             row_number() OVER (PARTITION BY x_id
               ORDER BY cos_micro DESC, y_id) AS rk_x,
             row_number() OVER (PARTITION BY y_id
               ORDER BY cos_micro DESC, x_id) AS rk_y
           FROM pos),
         sx AS (
           SELECT x_id, CAST(sum(cos_micro) AS BIGINT) AS sum_x,
             count(*) AS n_x
           FROM rx WHERE rk_x <= $k GROUP BY 1),
         sy AS (
           SELECT y_id, CAST(sum(cos_micro) AS BIGINT) AS sum_y,
             count(*) AS n_y
           FROM rx WHERE rk_y <= $k GROUP BY 1),
         sc AS (
           SELECT r.x_id, r.y_id, r.cos_micro,
             (r.cos_micro * 2 * 1000000)
               // ((sx.sum_x // sx.n_x) + (sy.sum_y // sy.n_y))
               AS margin_micro
           FROM rx r JOIN sx USING (x_id) JOIN sy USING (y_id)
           WHERE r.rk_x <= $k),
         best AS (
           SELECT *, row_number() OVER (PARTITION BY x_id
             ORDER BY margin_micro DESC, y_id) AS rk
           FROM sc)
         SELECT x_id, y_id, cos_micro, margin_micro FROM best
         WHERE rk = 1
           AND margin_micro >= ${operators.Similarity.BitextMarginThresholdMicro}
         ORDER BY x_id"""
  }

  /** IVF probe-path restatement (seed centroids = first 16 vectors,
    * argmax-cosine cells with larger-id ties, top-4 probe lists) —
    * shared by the `ann_ivf` gate and the `ann_recall_ivf` audit.
    */
  /** Shared by `ivf_upsert` and `stream_upsert`: the streaming ingest
    * twin's landed table must equal the batch assignment bit-for-bit,
    * enforced by gating both against this single string.
    */
  private val ivfUpsertOracle: String =
    """WITH base AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
           FROM embeddings WHERE vec_id % 10 != 9),
         delta AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
           FROM embeddings WHERE vec_id % 10 = 9),
         cents AS (
           SELECT vec_id AS c_id, embedding AS c_emb, norm AS c_norm
           FROM base WHERE vec_id < 16),
         scores AS (
           SELECT d.vec_id, c.c_id,
             list_sum(list_transform(generate_series(1, 64),
               x -> CAST(d.embedding[x] AS DOUBLE) * CAST(c.c_emb[x] AS DOUBLE)))
               / (d.norm * c.c_norm) AS ccos
           FROM delta d CROSS JOIN cents c)
         SELECT vec_id, cell, cos_micro FROM (
           SELECT vec_id, CAST(c_id AS INTEGER) AS cell,
             CAST(floor(ccos * 1e6) AS BIGINT) AS cos_micro,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY ccos DESC, c_id DESC) AS rn
           FROM scores) WHERE rn = 1 ORDER BY vec_id"""

  /** Shared by `weak_labels` and `stream_weak_labels`: the labeler is a
    * stateless per-row projection, so the streaming twin must land the
    * identical vote table.
    */
  private val weakLabelsOracle: String =
    """WITH t AS (
           SELECT doc_id, n_chars,
             regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
         f AS (
           SELECT doc_id, n_chars,
             CAST(len(w) AS BIGINT) AS nt,
             CAST(len(list_distinct(w)) AS BIGINT) AS nd,
             CAST(len(list_filter(w, x -> length(x) >= 3)) AS BIGINT) AS nl
           FROM t),
         r AS (
           SELECT doc_id,
             CASE WHEN nt >= 20 THEN 1 WHEN nt < 5 THEN -1 ELSE 0 END AS r1,
             CASE WHEN nd * 1000000 // nt >= 700000 THEN 1
                  WHEN nd * 1000000 // nt < 300000 THEN -1 ELSE 0 END AS r2,
             CASE WHEN nl * 1000000 // nt >= 600000 THEN 1
                  WHEN nl * 1000000 // nt < 200000 THEN -1 ELSE 0 END AS r3,
             CASE WHEN n_chars // nt BETWEEN 3 AND 12 THEN 1
                  WHEN n_chars // nt > 20 THEN -1 ELSE 0 END AS r4
           FROM f)
         SELECT doc_id,
           CAST(r1 AS INT) AS r1, CAST(r2 AS INT) AS r2,
           CAST(r3 AS INT) AS r3, CAST(r4 AS INT) AS r4,
           CAST(CASE WHEN r1 + r2 + r3 + r4 > 0 THEN 1
                WHEN r1 + r2 + r3 + r4 < 0 THEN -1 ELSE 0 END AS INT)
             AS weak_label,
           CAST(CASE WHEN abs(r1) + abs(r2) + abs(r3) + abs(r4) > 0
             THEN abs(r1 + r2 + r3 + r4) * 1000000
               // (abs(r1) + abs(r2) + abs(r3) + abs(r4))
             ELSE 0 END AS BIGINT) AS confidence_micro
         FROM r ORDER BY doc_id"""

  /** `label_agreement` oracle: the weak_labels vote derivation
    * (verbatim t/f/r CTEs) unpivoted to (doc, lf, vote), abstentions
    * dropped, self-joined per doc, and Cohen's kappa restated in the
    * identical micro-rate arithmetic — kappa itself stays a
    * (num, den) pair on both sides because a negative kappa under
    * truncating vs flooring division diverges.
    */
  private val labelAgreementOracle: String =
    """WITH t AS (
           SELECT doc_id, n_chars,
             regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
         f AS (
           SELECT doc_id, n_chars,
             CAST(len(w) AS BIGINT) AS nt,
             CAST(len(list_distinct(w)) AS BIGINT) AS nd,
             CAST(len(list_filter(w, x -> length(x) >= 3)) AS BIGINT) AS nl
           FROM t),
         r AS (
           SELECT doc_id,
             CASE WHEN nt >= 20 THEN 1 WHEN nt < 5 THEN -1 ELSE 0 END AS r1,
             CASE WHEN nd * 1000000 // nt >= 700000 THEN 1
                  WHEN nd * 1000000 // nt < 300000 THEN -1 ELSE 0 END AS r2,
             CASE WHEN nl * 1000000 // nt >= 600000 THEN 1
                  WHEN nl * 1000000 // nt < 200000 THEN -1 ELSE 0 END AS r3,
             CASE WHEN n_chars // nt BETWEEN 3 AND 12 THEN 1
                  WHEN n_chars // nt > 20 THEN -1 ELSE 0 END AS r4
           FROM f),
         votes AS (
           SELECT doc_id, lf, vote FROM (
             SELECT doc_id, 'r1' AS lf, r1 AS vote FROM r
             UNION ALL SELECT doc_id, 'r2', r2 FROM r
             UNION ALL SELECT doc_id, 'r3', r3 FROM r
             UNION ALL SELECT doc_id, 'r4', r4 FROM r) u
           WHERE vote != 0),
         pairs AS (
           SELECT a.lf AS lf_a, b.lf AS lf_b,
             CAST(count(*) AS BIGINT) AS n_both,
             CAST(sum(CASE WHEN a.vote = b.vote THEN 1 ELSE 0 END)
               AS BIGINT) AS n_agree,
             CAST(sum(CASE WHEN a.vote = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS na_pos,
             CAST(sum(CASE WHEN b.vote = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS nb_pos
           FROM votes a JOIN votes b
             ON a.doc_id = b.doc_id AND a.lf < b.lf
           GROUP BY 1, 2),
         k AS (
           SELECT lf_a, lf_b, n_both, n_agree,
             n_agree * 1000000 // n_both AS po_micro,
             (  (na_pos * 1000000 // n_both)
              * (nb_pos * 1000000 // n_both)
              + (1000000 - na_pos * 1000000 // n_both)
              * (1000000 - nb_pos * 1000000 // n_both)) // 1000000
               AS pe_micro
           FROM pairs)
         SELECT lf_a, lf_b, n_both, n_agree,
           CAST(po_micro AS BIGINT) AS po_micro,
           CAST(pe_micro AS BIGINT) AS pe_micro,
           CAST(po_micro - pe_micro AS BIGINT) AS kappa_num,
           CAST(1000000 - pe_micro AS BIGINT) AS kappa_den
         FROM k ORDER BY lf_a, lf_b"""

  /** Shared by `cdc_apply` and `stream_cdc`: the streaming merge sink's
    * final snapshot must equal the batch MERGE bit-for-bit, enforced by
    * gating both against this single string.
    */
  private val cdcApplyOracle: String =
    """WITH m AS (SELECT max(doc_id) + 1 AS shift FROM documents),
         ups AS (
           SELECT doc_id, text || ' v2' AS text FROM documents
           WHERE doc_id % 10 = 3
           UNION ALL
           SELECT doc_id + (SELECT shift FROM m) AS doc_id, text
           FROM documents WHERE doc_id % 10 = 7),
         touched AS (
           SELECT doc_id FROM ups
           UNION
           SELECT doc_id FROM documents WHERE doc_id % 10 = 9)
         SELECT doc_id, md5(text) AS fp FROM (
           SELECT d.doc_id, d.text FROM documents d
           WHERE d.doc_id NOT IN (SELECT doc_id FROM touched)
           UNION ALL
           SELECT doc_id, text FROM ups)
         ORDER BY doc_id"""

  /** Shared by `dedup_clusters` and `dedup_clusters_loop`: the driver
    * union-find fast path and the forced distributed label-propagation
    * loop must produce the identical clustering (one row per cluster,
    * canonical = min doc_id, member count) — the closure over the exact
    * near-dup pair set, which DuckDB derives independently via a
    * recursive CTE.
    */
  private val dedupClustersOracle: String =
    """WITH sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents),
                UNNEST(generate_series(1, len(w) - 2)) AS t(i)
           WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT doc_a, doc_b FROM inter
           JOIN sizes sa ON sa.doc_id = doc_a
           JOIN sizes sb ON sb.doc_id = doc_b
           WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.9),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                   UNION ALL SELECT doc_b, doc_a FROM pairs),
         reach AS (
           WITH RECURSIVE r(u, comp) AS (
             SELECT u, u FROM (SELECT DISTINCT u FROM edges)
             UNION
             SELECT e.u, r.comp FROM edges e JOIN r ON e.v = r.u)
           SELECT u, min(comp) AS component FROM r GROUP BY u)
         SELECT component AS cluster_id, CAST(count(*) AS BIGINT) AS n_members
         FROM reach GROUP BY 1 ORDER BY 1"""

  /** Shared by `line_table_keys` and `stream_line_ingest`: both the
    * batch scan and the MicroBatchStream ingest of the DSv2 line-table
    * source must reproduce the per-key rollup DuckDB derives straight
    * from the documents fixture.
    */
  private val lineTableOracle: String =
    """WITH t AS (
           SELECT trim(text) AS line FROM documents
           WHERE length(trim(text)) > 0 AND strpos(text, chr(10)) = 0),
         s AS (
           SELECT CASE WHEN strpos(line, ' ') = 0 THEN line
                  ELSE substr(line, 1, strpos(line, ' ') - 1) END AS key,
                  CASE WHEN strpos(line, ' ') = 0 THEN ''
                  ELSE substr(line, strpos(line, ' ') + 1) END AS value
           FROM t)
         SELECT key, count(*) AS n_lines,
           CAST(sum(length(value)) AS BIGINT) AS n_value_chars
         FROM s GROUP BY key ORDER BY key"""

  private val annIvfOracle: String =
    """WITH base AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
           FROM embeddings),
         cents AS (
           SELECT vec_id AS c_id, embedding AS c_emb, norm AS c_norm
           FROM base WHERE vec_id < 16),
         scores AS (
           SELECT b.vec_id, c.c_id,
             list_sum(list_transform(generate_series(1, 64),
               d -> CAST(b.embedding[d] AS DOUBLE) * CAST(c.c_emb[d] AS DOUBLE)))
               / (b.norm * c.c_norm) AS ccos
           FROM base b CROSS JOIN cents c),
         assigned AS (
           SELECT vec_id, c_id AS cell FROM (
             SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY ccos DESC, c_id DESC) AS rn
             FROM scores) WHERE rn = 1),
         probes AS (
           SELECT vec_id AS q_id, c_id AS probe_cell FROM (
             SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY ccos DESC, c_id DESC) AS rn
             FROM scores) WHERE rn <= 4 AND vec_id < 10),
         cand AS (
           SELECT p.q_id, a.vec_id
           FROM probes p JOIN assigned a ON a.cell = p.probe_cell
           WHERE a.vec_id != p.q_id),
         scored AS (
           SELECT c.q_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, 64),
               d -> CAST(bc.embedding[d] AS DOUBLE) * CAST(bq.embedding[d] AS DOUBLE)))
               / (bc.norm * bq.norm), 4) AS cos
           FROM cand c
           JOIN base bc ON bc.vec_id = c.vec_id
           JOIN base bq ON bq.vec_id = c.q_id),
         ranked AS (
           SELECT q_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos DESC, neighbor_id) AS rk
           FROM scored)
         SELECT q_id, rk, neighbor_id, cos FROM ranked
         WHERE rk <= 10 ORDER BY q_id, rk"""

  private def annLshOracle: String = {
    val w = operators.Similarity.planeWeights(8)
    val rows = w.zipWithIndex
      .map { case (arr, p) => s"($p, [${arr.mkString(", ")}])" }
      .mkString(",\n           ")
    val masks = 0L +: (0 until 8).map(p => 1L << p)
    s"""WITH weights(p, w) AS (VALUES
           $rows),
         base AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
           FROM embeddings),
         sigs AS (
           SELECT b.vec_id,
             CAST(sum(CASE WHEN list_sum(list_transform(generate_series(1, 64),
                 d -> CAST(b.embedding[d] AS DOUBLE) * wt.w[d])) > 0
               THEN (1::BIGINT << wt.p) ELSE 0 END) AS BIGINT) AS sig
           FROM base b CROSS JOIN weights wt GROUP BY b.vec_id),
         probes AS (
           SELECT s.vec_id AS q_id, xor(s.sig, t.m) AS probe_sig
           FROM sigs s, UNNEST([${masks.mkString(", ")}]) t(m)
           WHERE s.vec_id < 10),
         cand AS (
           SELECT DISTINCT p.q_id, s.vec_id
           FROM probes p JOIN sigs s ON s.sig = p.probe_sig AND s.vec_id != p.q_id),
         scored AS (
           SELECT c.q_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, 64),
                 d -> CAST(bc.embedding[d] AS DOUBLE) * CAST(bq.embedding[d] AS DOUBLE)))
               / (bc.norm * bq.norm), 4) AS cos
           FROM cand c
           JOIN base bc ON bc.vec_id = c.vec_id
           JOIN base bq ON bq.vec_id = c.q_id),
         ranked AS (
           SELECT q_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos DESC, neighbor_id) AS rk
           FROM scored)
         SELECT q_id, rk, neighbor_id, cos FROM ranked
         WHERE rk <= 10 ORDER BY q_id, rk"""
  }

  /** `ann_lsh_mp` oracle: the banded multi-probe path restated — per
    * (vector, band) values from the same plane lattice `lsh_bands`
    * evaluates (bit r of band b ⇔ plane b·rows+r's dot > 0), query
    * probes = each band's own value XOR every ≤1-bit mask, candidates
    * from the (band, value) equi-join, exact cosine rerank. The
    * [[annLshOracle]] spelling generalized from one 8-bit signature to
    * `bands` independent bands.
    */
  private def annLshMpOracle: String = {
    val bits = 64
    val bands = 8
    val rows = bits / bands
    val w = operators.Similarity.planeWeights(bits)
    val wRows = w.zipWithIndex
      .map { case (arr, p) => s"($p, [${arr.mkString(", ")}])" }
      .mkString(",\n           ")
    val masks = 0L +: (0 until rows).map(r => 1L << r)
    s"""WITH weights(p, w) AS (VALUES
           $wRows),
         base AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
           FROM embeddings),
         sigs AS (
           SELECT b.vec_id, wt.p // $rows AS bi,
             CAST(sum(CASE WHEN list_sum(list_transform(generate_series(1, 64),
                 d -> CAST(b.embedding[d] AS DOUBLE) * wt.w[d])) > 0
               THEN (1::BIGINT << (wt.p % $rows)) ELSE 0 END) AS BIGINT) AS bv
           FROM base b CROSS JOIN weights wt GROUP BY b.vec_id, wt.p // $rows),
         probes AS (
           SELECT s.vec_id AS q_id, s.bi, xor(s.bv, t.m) AS probe_bv
           FROM sigs s, UNNEST([${masks.mkString(", ")}]) t(m)
           WHERE s.vec_id < 10),
         cand AS (
           SELECT DISTINCT p.q_id, s.vec_id
           FROM probes p JOIN sigs s
             ON s.bi = p.bi AND s.bv = p.probe_bv AND s.vec_id != p.q_id),
         scored AS (
           SELECT c.q_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, 64),
                 d -> CAST(bc.embedding[d] AS DOUBLE) * CAST(bq.embedding[d] AS DOUBLE)))
               / (bc.norm * bq.norm), 4) AS cos
           FROM cand c
           JOIN base bc ON bc.vec_id = c.vec_id
           JOIN base bq ON bq.vec_id = c.q_id),
         ranked AS (
           SELECT q_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos DESC, neighbor_id) AS rk
           FROM scored)
         SELECT q_id, rk, neighbor_id, cos FROM ranked
         WHERE rk <= 10 ORDER BY q_id, rk"""
  }

  /** Every gate, declared once with its Spark function and its oracle
    * side by side. Lazy: the oracle strings read the helpers above.
    */
  lazy val gates: Seq[Gate] = registry(
    // --- relational core (Catalyst-native generalizations of §2.3/§2.4)
    Gate("q1_pricing_summary", Relational.q1PricingSummary(_, _),
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
         count(*) AS count_order
         FROM lineitem WHERE l_quantity > 0
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),
    Gate("q2_market_share", Relational.q2MarketShare(_, _),
      """SELECT r_name, n_name, count(*) AS n_customers,
         round(sum(c_acctbal), 2) AS total_acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name"""),
    Gate("q3_top_orders", Relational.q3TopOrders(_, _),
      """SELECT o_orderkey, round(rev, 2) AS revenue, o_orderpriority
         FROM orders
         JOIN (SELECT l_orderkey,
                      sum(l_extendedprice * (1.0 - l_discount)) AS rev
               FROM lineitem GROUP BY l_orderkey) r
           ON o_orderkey = l_orderkey
         WHERE o_orderstatus = 'O'
         ORDER BY rev DESC, o_orderkey LIMIT 10"""),
    Gate("q4_order_priority", Relational.q4OrderPriority(_, _),
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity >= 25)
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    Gate("q5_local_supplier", Relational.q5LocalSupplierVolume(_, _),
      """SELECT r_name, n_name,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
         count(*) AS n_items
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name"""),
    Gate("q6_forecast_revenue", Relational.q6ForecastRevenue(_, _),
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
         count(*) AS n_items
         FROM lineitem
         WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"""),
    Gate("q7_top_per_customer", Relational.q7TopOrdersPerCustomer(_, _),
      """SELECT o_custkey, rn, o_orderkey, round(o_totalprice, 2) AS totalprice
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
               FROM orders) t
         WHERE rn <= 3 ORDER BY o_custkey, rn"""),
    // same semantics as q7 on purpose — the Spark side is the bounded
    // topk_structs AGGREGATE plan (map-side k-row heaps, no window sort);
    // q7 keeps the window plan, so the bench carries the A/B every round.
    Gate("topk_agg", Relational.topkAggOrders(_, _),
      """SELECT o_custkey, rn, o_orderkey, round(o_totalprice, 2) AS totalprice
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
               FROM orders) t
         WHERE rn <= 3 ORDER BY o_custkey, rn"""),
    Gate("q8_running_revenue", Relational.q8RunningRevenue(_, _),
      """SELECT l_suppkey, l_orderkey, l_linenumber,
         strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
         round(sum(l_quantity) OVER (PARTITION BY l_suppkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
         FROM lineitem
         ORDER BY l_suppkey, ship_day, l_orderkey, l_linenumber"""),
    Gate("q9_set_ops", Relational.q9SetOps(_, _),
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         ORDER BY o_custkey"""),
    Gate("q10_anti_join", Relational.q10CustomersWithoutOrders(_, _),
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey"""),
    Gate("q11_rollup", Relational.q11RollupCustomers(_, _),
      """SELECT r_name, n_name, count(*) AS n_customers
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)
         ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST"""),
    Gate("q12_argmax", Relational.q12ArgmaxCustomer(_, _),
      """SELECT n_name, c_custkey, c_name, round(c_acctbal, 2) AS acctbal
         FROM (SELECT *, row_number() OVER (PARTITION BY c_nationkey
                 ORDER BY c_acctbal DESC, c_custkey) AS rn
               FROM customer) c
         JOIN nation ON c_nationkey = n_nationkey
         WHERE rn = 1 ORDER BY n_name"""),
    Gate("q13_scalar_fns", Relational.q13ScalarFunctions(_, _),
      """SELECT p_partkey,
         upper(p_brand) AS brand_upper,
         length(p_name) AS name_len,
         substring(p_type, 1, 5) AS type_prefix,
         concat_ws('|', p_brand, p_type) AS brand_type,
         abs(p_size - 25) AS size_dev,
         round(p_retailprice * 1.1, 2) AS uplift_price,
         CASE WHEN p_size >= 25 THEN 'large' ELSE 'small' END AS size_class
         FROM part ORDER BY p_partkey"""),
    Gate("q14_events_hourly", Relational.q14EventsHourly(_, _),
      """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
         count(*) AS n_events, round(sum(value), 2) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    Gate("q15_distinct_agg", Relational.q15DistinctAgg(_, _),
      """SELECT c_mktsegment,
         count(DISTINCT c_nationkey) AS n_nations,
         count(DISTINCT c_custkey) AS n_customers,
         count(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    Gate("q16_asof_join", Relational.q16AsofJoin(_, _),
      """SELECT p.event_id, p.user_id,
         (SELECT max(epoch_us(c.ts)) FROM events c
          WHERE c.event_type = 'click' AND c.user_id = p.user_id
            AND epoch_us(c.ts) <= epoch_us(p.ts)) AS last_click_us
         FROM events p WHERE p.event_type = 'purchase'
         ORDER BY p.event_id"""),
    Gate("q17_json_props", Relational.q17JsonProps(_, _),
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
         max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type"""),
    // q18: exact companions hashed; each sketch's error-bound verdict
    // is asserted TRUE (the Spark side computes the sketch for real and
    // compares in-plan — a sketch outside its contract flips a boolean
    // and the hash goes red)
    Gate("q18_sketches", Relational.q18Sketches(_, _),
      """WITH u AS (
           SELECT event_type, count(DISTINCT user_id) AS n_users,
             count(*) AS n
           FROM events GROUP BY 1),
         r AS (
           SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rk
           FROM events),
         p AS (
           SELECT r.event_type,
             max(CASE WHEN rk = (n + 1) // 2 THEN value END) AS p50_value,
             max(CASE WHEN rk = (99 * n + 99) // 100 THEN value END) AS p99_value
           FROM r JOIN u USING (event_type) GROUP BY 1)
         SELECT u.event_type, u.n_users, TRUE AS approx_users_ok,
           p.p50_value, p.p99_value,
           TRUE AS p50_approx_ok, TRUE AS p99_approx_ok
         FROM u JOIN p USING (event_type) ORDER BY event_type"""),
    Gate("q19_pivot", Relational.q19Pivot(_, _),
      """SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
         CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
         CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view,
         CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
         CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
         CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error
         FROM events GROUP BY 1 ORDER BY 1"""),
    // --- second-tier analytics (ordered/moment stats, sessions, windows)
    Gate("q20_percentiles", Analytics.q20Percentiles(_, _),
      """SELECT l_returnflag,
         quantile_cont(l_quantity, 0.25) AS p25,
         quantile_cont(l_quantity, 0.5) AS p50,
         quantile_cont(l_quantity, 0.75) AS p75,
         min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    Gate("q21_stats", Analytics.q21Stats(_, _),
      """SELECT l_returnflag,
         round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
         round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
         round(stddev_samp(l_extendedprice), 2) AS stddev_price,
         round(regr_slope(l_extendedprice, l_quantity), 2) AS slope_price_qty,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    // µs resolution on BOTH sides: DuckDB loads TIMESTAMP(NANOS) parquet
    // at µs, so comparing at ns would flake on sub-µs knife-edge gaps
    Gate("q22_sessions", Analytics.q22Sessions(_, _),
      """WITH flagged AS (
           SELECT user_id, event_id, epoch_us(ts) AS tus,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    OR lag(epoch_us(ts)) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
         numbered AS (
           SELECT user_id, tus, event_id,
             CAST(sum(new_session) OVER (PARTITION BY user_id
               ORDER BY tus, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id, session_id, count(*) AS n_events,
           min(tus) AS start_us,
           max(tus) AS end_us,
           max(tus) - min(tus) AS duration_us
         FROM numbered GROUP BY user_id, session_id
         ORDER BY user_id, session_id"""),
    Gate("q23_grouping_sets", Analytics.q23GroupingSets(_, _),
      """SELECT r_name, c_mktsegment, count(*) AS n_customers,
         round(sum(c_acctbal), 2) AS total_acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY CUBE (r_name, c_mktsegment)
         ORDER BY r_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST"""),
    Gate("q24_window_suite", Analytics.q24WindowSuite(_, _),
      """SELECT o_custkey, o_orderkey,
         CAST(row_number() OVER k AS INT) AS rn,
         CAST(rank() OVER p AS INT) AS prio_rank,
         CAST(dense_rank() OVER p AS INT) AS prio_dense,
         round(percent_rank() OVER p, 6) AS prio_prank,
         CAST(ntile(4) OVER k AS INT) AS tile4,
         round(lag(o_totalprice, 1) OVER k, 2) AS prev_price,
         round(lead(o_totalprice, 1) OVER k, 2) AS next_price
         FROM orders
         WINDOW k AS (PARTITION BY o_custkey ORDER BY o_orderkey),
                p AS (PARTITION BY o_custkey ORDER BY o_orderpriority)
         ORDER BY o_orderkey"""),
    Gate("q25_tfidf", Analytics.q25Tfidf(_, _),
      """WITH tf AS (
           SELECT doc_id, term, count(*) AS tf
           FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\s+')) AS term
                 FROM documents)
           WHERE length(term) > 0 GROUP BY doc_id, term),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.term, tf.tf, df.df,
             round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS score
           FROM tf JOIN df USING (term) CROSS JOIN n),
         ranked AS (
           SELECT doc_id, term, tf, df, score,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, term) AS INT) AS rk
           FROM scored)
         SELECT doc_id, rk, term, score, tf, df FROM ranked
         WHERE rk <= 3 ORDER BY doc_id, rk"""),
    Gate("q26_correlated", Analytics.q26Correlated(_, _),
      """SELECT p_brand,
         round(sum(l_extendedprice) / 7.0, 2) AS avg_weekly,
         count(*) AS n_small_orders
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE l_quantity < (SELECT 0.2 * avg(l_quantity)
                             FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
         GROUP BY p_brand ORDER BY p_brand"""),
    Gate("q27_range_window", Analytics.q27RangeWindow(_, _),
      """SELECT event_id, user_id,
         round(sum(value) OVER w, 2) AS hour_sum,
         count(*) OVER w AS hour_n
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id"""),
    Gate("q28_array_fns", Analytics.q28ArrayFns(_, _),
      """SELECT l_orderkey,
           len(qtys) AS n_items,
           CAST(list_aggregate(qtys, 'sum') AS BIGINT) AS total_qty,
           len(list_filter(qtys, x -> x > 25)) AS n_heavy,
           qtys[1] * 2 AS min_qty_x2,
           qtys[-1] AS max_qty
         FROM (SELECT l_orderkey,
                      list_sort(array_agg(CAST(l_quantity AS BIGINT))) AS qtys
               FROM lineitem GROUP BY l_orderkey)
         ORDER BY l_orderkey"""),
    Gate("q29_dates_regex", Analytics.q29DatesRegex(_, _),
      """SELECT o_orderkey,
           year(o_orderdate) AS o_year,
           quarter(o_orderdate) AS o_quarter,
           month(o_orderdate) AS o_month,
           day(o_orderdate) AS o_day,
           epoch_us(date_trunc('month', o_orderdate)) AS month_start_us,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
             AS days_since_95,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS eom,
           CAST(regexp_extract(o_orderpriority, '^(\d)-', 1) AS INT)
             AS priority_num,
           regexp_replace(lower(o_orderpriority), '^\d-', '') AS priority_name
         FROM orders ORDER BY o_orderkey"""),
    Gate("q30_unpivot", Analytics.q30Unpivot(_, _),
      """WITH wide AS (
           SELECT l_returnflag,
             CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
             CAST(count(*) AS DOUBLE) AS n_rows,
             CAST(max(l_linenumber) AS DOUBLE) AS max_line
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, measure, val FROM (
           SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS val FROM wide
           UNION ALL
           SELECT l_returnflag, 'n_rows', n_rows FROM wide
           UNION ALL
           SELECT l_returnflag, 'max_line', max_line FROM wide)
         ORDER BY l_returnflag, measure"""),
    Gate("q31_resample", Analytics.q31Resample(_, _),
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) // 3600000000 AS hr, value
           FROM events WHERE user_id % 50 = 0),
         h AS (SELECT user_id, hr, max(value) AS hr_max FROM ev GROUP BY 1, 2),
         s AS (SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM h GROUP BY 1),
         slots AS (SELECT user_id, UNNEST(generate_series(h0, h1)) AS hr FROM s),
         j AS (SELECT sl.user_id, sl.hr, h.hr_max
               FROM slots sl LEFT JOIN h ON h.user_id = sl.user_id AND h.hr = sl.hr)
         SELECT user_id, CAST(hr AS BIGINT) AS hr,
           hr_max IS NOT NULL AS is_observed,
           last_value(hr_max IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY hr) AS filled
         FROM j ORDER BY user_id, hr"""),
    Gate("q32_full_outer", Relational.q32FullOuter(_, _),
      """WITH o_open AS (
           SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_open
           FROM orders WHERE o_orderstatus = 'O' GROUP BY 1),
         o_fin AS (
           SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_fin
           FROM orders WHERE o_orderstatus = 'F' GROUP BY 1)
         SELECT coalesce(o_open.o_custkey, o_fin.o_custkey) AS o_custkey,
           o_open.o_custkey IS NOT NULL AS has_open,
           o_fin.o_custkey IS NOT NULL AS has_fin,
           coalesce(n_open, 0) AS n_open,
           coalesce(n_fin, 0) AS n_fin
         FROM o_open FULL OUTER JOIN o_fin
           ON o_open.o_custkey = o_fin.o_custkey
         ORDER BY 1"""),
    Gate("q33_multiset_ops", Relational.q33MultisetOps(_, _),
      """WITH hi AS (SELECT l_orderkey FROM lineitem WHERE l_quantity > 25),
         disc AS (SELECT l_orderkey FROM lineitem WHERE l_discount > 0.05)
         SELECT 'except_all' AS tag, l_orderkey
         FROM (SELECT l_orderkey FROM hi EXCEPT ALL SELECT l_orderkey FROM disc)
         UNION ALL
         SELECT 'intersect_all' AS tag, l_orderkey
         FROM (SELECT l_orderkey FROM hi INTERSECT ALL SELECT l_orderkey FROM disc)
         ORDER BY tag, l_orderkey"""),
    Gate("q34_lateral_topk", Relational.q34LateralTopk(_, _),
      """SELECT n_nationkey, n_name, c_custkey,
           round(c_acctbal, 2) AS acctbal
         FROM nation, LATERAL (
           SELECT c_custkey, c_acctbal FROM customer
           WHERE c_nationkey = n_nationkey
           ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
         ORDER BY n_nationkey, acctbal DESC, c_custkey"""),
    Gate("cohort_retention", Analytics.cohortRetention(_, _),
      """WITH e AS (
           SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
         c AS (
           SELECT user_id, day,
             min(day) OVER (PARTITION BY user_id) AS cohort_day
           FROM e)
         SELECT cohort_day, day - cohort_day AS day_offset,
           count(DISTINCT user_id) AS n_users
         FROM c GROUP BY 1, 2 ORDER BY 1, 2"""),
    Gate("funnel_stages", Analytics.funnelStages(_, _), funnelOracleSql),
    Gate("skew_salted_agg", Analytics.skewSaltedAgg(_, _),
      """SELECT event_type, count(*) AS n_events,
         round(sum(value), 2) AS total_value
         FROM events GROUP BY event_type ORDER BY event_type"""),
    // the hot/cold split is routing only — ANY hot set unions back to
    // exactly the plain inner join, which is what the oracle states
    Gate("skew_split_join", Skew.skewSplitJoinEvents(_, _),
      """SELECT event_id, user_id, event_type, c_mktsegment,
         round(value, 2) AS value
         FROM events JOIN customer ON user_id = c_custkey
         ORDER BY event_id"""),
    // bucketing is a physical layout choice — the oracle is the plain
    // join + rollup the bucketed plan must reproduce byte-for-byte
    Gate("bucket_join", Skew.bucketJoinOrders(_, _),
      """SELECT o_custkey AS c_custkey, c_mktsegment,
         count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS total_spend
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1, 2 ORDER BY 1"""),
    // the sketch pass is recall-guaranteed and the count pass is exact,
    // so the plain GROUP BY ... HAVING is a true oracle for the
    // Misra-Gries pipeline
    Gate("hh_heavy_hitters", HeavyHitters.frequentUsers(_, _),
      """SELECT user_id, count(*) AS n_events FROM events
         GROUP BY user_id HAVING count(*) * 2000 >= (SELECT count(*) FROM events)
         ORDER BY user_id"""),
    // --- reference workloads A/B/C (SURVEY §2.3) on the fixture tables
    Gate("wc_wordcount", Workloads.wcDocuments(_, _),
      """SELECT word, count(*) AS cnt
         FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
               FROM documents)
         WHERE length(word) > 0 GROUP BY word ORDER BY word"""),
    Gate("vote_condorcet", Workloads.voteCondorcet(_, _),
      """WITH counted AS (
           SELECT user_id, event_type, count(*) AS n
           FROM events GROUP BY user_id, event_type),
         ranked AS (
           SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY n DESC, event_type) AS rk
           FROM counted),
         ballots AS (
           SELECT user_id,
                  max(CASE WHEN rk = 1 THEN event_type END) AS c1,
                  max(CASE WHEN rk = 2 THEN event_type END) AS c2,
                  max(CASE WHEN rk = 3 THEN event_type END) AS c3
           FROM ranked WHERE rk <= 3 GROUP BY user_id
           HAVING max(CASE WHEN rk = 3 THEN event_type END) IS NOT NULL),
         prefs AS (
           SELECT least(a, b) AS lo, greatest(a, b) AS hi,
                  CASE WHEN a < b THEN 1 ELSE 0 END AS pref_lo
           FROM (SELECT c1 AS a, c2 AS b FROM ballots
                 UNION ALL SELECT c1, c3 FROM ballots
                 UNION ALL SELECT c2, c3 FROM ballots)),
         pairwise AS (
           SELECT lo, hi, CAST(sum(pref_lo) AS BIGINT) AS lo_votes,
                  count(*) AS n
           FROM prefs GROUP BY lo, hi),
         winners AS (
           SELECT CASE WHEN lo_votes * 2 > n THEN lo ELSE hi END AS winner
           FROM pairwise)
         SELECT winner, count(*) AS wins FROM winners
         GROUP BY winner ORDER BY wins DESC, winner"""),
    // the reference's argmax-only output line (juice_vote_two.go:17-23)
    Gate("vote_winner", Workloads.voteWinner(_, _),
      """WITH counted AS (
           SELECT user_id, event_type, count(*) AS n
           FROM events GROUP BY user_id, event_type),
         ranked AS (
           SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY n DESC, event_type) AS rk
           FROM counted),
         ballots AS (
           SELECT user_id,
                  max(CASE WHEN rk = 1 THEN event_type END) AS c1,
                  max(CASE WHEN rk = 2 THEN event_type END) AS c2,
                  max(CASE WHEN rk = 3 THEN event_type END) AS c3
           FROM ranked WHERE rk <= 3 GROUP BY user_id
           HAVING max(CASE WHEN rk = 3 THEN event_type END) IS NOT NULL),
         prefs AS (
           SELECT least(a, b) AS lo, greatest(a, b) AS hi,
                  CASE WHEN a < b THEN 1 ELSE 0 END AS pref_lo
           FROM (SELECT c1 AS a, c2 AS b FROM ballots
                 UNION ALL SELECT c1, c3 FROM ballots
                 UNION ALL SELECT c2, c3 FROM ballots)),
         pairwise AS (
           SELECT lo, hi, CAST(sum(pref_lo) AS BIGINT) AS lo_votes,
                  count(*) AS n
           FROM prefs GROUP BY lo, hi),
         winners AS (
           SELECT CASE WHEN lo_votes * 2 > n THEN lo ELSE hi END AS winner
           FROM pairwise)
         SELECT winner || ' win!' AS line FROM (
           SELECT winner, count(*) AS wins FROM winners
           GROUP BY winner ORDER BY wins DESC, winner LIMIT 1)"""),
    Gate("trace_contact", Workloads.traceContacts(_, _),
      """SELECT DISTINCT t.event_id AS name
         FROM (SELECT event_id, user_id, value FROM events
               WHERE event_type = 'view') t
         JOIN (SELECT user_id, value FROM events
               WHERE event_type = 'error') p
           ON t.user_id = p.user_id
          AND t.value < p.value + 50 AND p.value < t.value + 50
         ORDER BY name"""),
    // --- the MapleJuice engine surface itself (SURVEY §2.1 E1-E11)
    Gate("mj_wordcount", Workloads.mjWordCount(_, _),
      """SELECT word, count(*) AS cnt
         FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
               FROM documents)
         WHERE length(word) > 0 GROUP BY word ORDER BY word"""),
    // the literal exe tier computes the same wordcount through external
    // processes (RDD.pipe + one process per key): same oracle
    Gate("mj_wordcount_exe", Workloads.mjWordCountExe(_, _),
      """SELECT word, count(*) AS cnt
         FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
               FROM documents)
         WHERE length(word) > 0 GROUP BY word ORDER BY word"""),
    // range partitioning is placement-only (not output-visible): same oracle
    Gate("mj_wordcount_range", Workloads.mjWordCountRange(_, _),
      """SELECT word, count(*) AS cnt
         FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
               FROM documents)
         WHERE length(word) > 0 GROUP BY word ORDER BY word"""),
    // the DSv2 line-table round trip: the oracle derives the same
    // per-key rollup straight from documents — a split-boundary bug
    // (lost / duplicated / torn line) cannot hash-match
    Gate("line_table_keys", sources.LineTable.keyStats(_, _), lineTableOracle),
    // the DSv2 WRITE path round trip (append + truncating overwrite)
    // must land the identical rollup — one shared oracle string
    Gate("line_table_rt", sources.LineTable.roundTrip(_, _), lineTableOracle),
    // streaming WRITE through the source's StreamingWrite (epoch-
    // addressed append) must land the identical rollup too
    Gate("stream_line_rt", sources.LineTable.streamRoundTrip(_, _), lineTableOracle),
    // --- training-data pipeline: dedup (SURVEY §7.2-M6)
    Gate("dedup_exact", Dedup.exactDedup(_, _),
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY md5(text) ORDER BY keep_id"""),
    // Mirrors the DF-capped scale path with the CORPUS-DERIVED cap
    // (Dedup.derivedDfCap): min of the 99.9%-of-distinct-shingles
    // quantile bound and the 1000-pairs-per-doc candidate-volume budget
    // bound, floored at 2 — all-integer arithmetic over the df
    // histogram, so both engines derive the identical cap from the
    // identical stats. Candidate pairs must share at least one under-cap
    // shingle; the reported value is the exact Jaccard over ALL
    // shingles.
    Gate("dedup_jaccard", Dedup.ngramJaccard(_, _),
      s"""$jaccardAdaptiveCteSql
         SELECT doc_a, doc_b,
                round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 6) AS jac
         FROM inter
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.8
         ORDER BY doc_a, doc_b"""),
    // The PPJoin prefix screen is EXACT (zero recall loss), so its oracle
    // is the full UNCAPPED Jaccard pair set — stated without any cap or
    // prefix machinery. DuckDB never reproduces the xxhash64 prefix
    // order; a single pair the prefix filter wrongly dropped (or a float
    // ceil that shortened a prefix) hash-mismatches here.
    Gate("dedup_prefix", Dedup.prefixJaccardDocs(_, _), uncappedJaccardPairsOracle),
    // LSH output = the exact-Jaccard pair set at the same threshold
    // (candidates are re-verified exactly; banding miss probability at the
    // 0.9 threshold is < 1e-7) — so the exact SQL is a genuine oracle for
    // the approximate path.
    Gate("dedup_minhash_lsh", Dedup.minhashLsh(_, _),
      """WITH sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents),
                UNNEST(generate_series(1, len(w) - 2)) AS t(i)
           WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b,
                round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 6) AS jac
         FROM inter
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.9
         ORDER BY doc_a, doc_b"""),
    Gate("dedup_simhash", Dedup.simhashDocs(_, _), simhashOracle),
    // clusters = transitive closure over the exact near-dup pairs (the
    // LSH pair set equals the exact set — see dedup_minhash_lsh above)
    Gate("dedup_clusters", Dedup.dedupClusters(_, _),
      dedupClustersOracle, cachedIntermediate = true),
    // the forced distributed-label-propagation twin must produce the
    // IDENTICAL clustering — one shared oracle string pins driver-
    // union-find vs RDD-loop path equality at every gated SF
    Gate("dedup_clusters_loop", Dedup.dedupClustersLoop(_, _),
      dedupClustersOracle, cachedIntermediate = true),
    // retention contract: every cluster keeps its minimum member, docs in
    // no cluster keep themselves (same pair set + closure as dedup_clusters)
    Gate("dedup_survivors", Dedup.dedupSurvivors(_, _),
      """WITH sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents),
                UNNEST(generate_series(1, len(w) - 2)) AS t(i)
           WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT doc_a, doc_b FROM inter
           JOIN sizes sa ON sa.doc_id = doc_a
           JOIN sizes sb ON sb.doc_id = doc_b
           WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.9),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                   UNION ALL SELECT doc_b, doc_a FROM pairs),
         reach AS (
           WITH RECURSIVE r(u, comp) AS (
             SELECT u, u FROM (SELECT DISTINCT u FROM edges)
             UNION
             SELECT e.u, r.comp FROM edges e JOIN r ON e.v = r.u)
           SELECT u, min(comp) AS component FROM r GROUP BY u)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT u FROM reach WHERE u != component)
         ORDER BY doc_id""", cachedIntermediate = true),
    // 5-gram train/eval leakage: eval = doc_id % 20 == 0, drop train docs
    // sharing any 5-gram with eval, keep the rest
    Gate("decon_survivors", Dedup.deconSurvivors(_, _), deconOracleSql),
    Gate("decon_bloom", Dedup.deconBloomSurvivors(_, _), deconOracleSql),
    // report form of the same %20 split: engine joins on xxhash64(shingle),
    // oracle on the shingle string — the gate re-checks the substitution
    Gate("decon_report", Dedup.deconReportDocs(_, _),
      """WITH sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents),
                UNNEST(generate_series(1, len(w) - 4)) AS t(i)
           WHERE len(w) >= 5),
         e AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 = 0),
         t AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 != 0),
         m AS (
           SELECT e.doc_id AS eval_id, t.doc_id AS train_id, e.shingle
           FROM e JOIN t ON e.shingle = t.shingle),
         agg AS (
           SELECT eval_id,
             count(DISTINCT train_id) AS n_leaky_train_docs,
             count(DISTINCT shingle) AS n_shared_shingles
           FROM m GROUP BY 1)
         SELECT d.doc_id,
           CAST(coalesce(a.n_leaky_train_docs, 0) AS BIGINT)
             AS n_leaky_train_docs,
           CAST(coalesce(a.n_shared_shingles, 0) AS BIGINT)
             AS n_shared_shingles
         FROM (SELECT doc_id FROM documents WHERE doc_id % 20 = 0) d
         LEFT JOIN agg a ON a.eval_id = d.doc_id
         ORDER BY d.doc_id"""),
    // bloom path: false positives are exact-verified away, so the result
    // is defined to equal the exact decontamination — ONE shared oracle
    // string, so the two entries can never drift apart
    // per-train-doc contamination fraction: distinct-shingle overlap
    // with the whole eval suite as an exact integer micro-rate (hash
    // join Spark-side, string join here — the standing decon collision
    // argument); shingle-less docs are undefined and absent both sides
    Gate("decon_overlap", Dedup.deconOverlapDocs(_, _),
      """WITH sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents),
                UNNEST(generate_series(1, len(w) - 4)) AS t(i)
           WHERE len(w) >= 5),
         e AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
         t AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 != 0)
         SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(e.shingle) AS BIGINT) AS n_hit,
           (CAST(count(e.shingle) AS BIGINT) * 1000000)
             // CAST(count(*) AS BIGINT) AS overlap_micro
         FROM t LEFT JOIN e ON e.shingle = t.shingle
         GROUP BY t.doc_id ORDER BY t.doc_id"""),
    // coverage rolls the same split up to the EVAL side: per eval doc,
    // what fraction of its distinct 5-grams the train corpus contains
    Gate("ngram_coverage", Dedup.ngramCoverageDocs(_, _),
      """WITH sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents),
                UNNEST(generate_series(1, len(w) - 4)) AS t(i)
           WHERE len(w) >= 5),
         e AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 = 0),
         t AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 != 0)
         SELECT e.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(t.shingle) AS BIGINT) AS n_covered,
           (CAST(count(t.shingle) AS BIGINT) * 1000000)
             // CAST(count(*) AS BIGINT) AS coverage_micro
         FROM e LEFT JOIN t ON t.shingle = e.shingle
         GROUP BY e.doc_id ORDER BY e.doc_id"""),
    Gate("dup_stats", Dedup.dupStatsDocs(_, _),
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE), 6) AS dup_ratio
         FROM documents GROUP BY source ORDER BY source"""),
    // ingest (delta-vs-corpus) dedup: LSH candidates are exact-verified, so
    // the exact cross-split formulation is the oracle (same recall argument
    // as dedup_minhash_lsh)
    Gate("ingest_dedup", Dedup.ingestDedupDocs(_, _),
      """WITH sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents),
                UNNEST(generate_series(1, len(w) - 2)) AS t(i)
           WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         near AS (
           SELECT d.doc_id
           FROM (SELECT a.doc_id, b.doc_id AS corpus_id, count(*) AS ni
                 FROM sh a JOIN sh b ON a.shingle = b.shingle
                 WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 != 7
                 GROUP BY 1, 2) d
           JOIN sizes sa ON sa.doc_id = d.doc_id
           JOIN sizes sb ON sb.doc_id = d.corpus_id
           WHERE ni * 1.0 / (sa.n + sb.n - ni) >= 0.9),
         ex AS (
           SELECT DISTINCT d.doc_id
           FROM documents d JOIN documents c ON d.text = c.text
           WHERE d.doc_id % 10 = 7 AND c.doc_id % 10 != 7)
         SELECT doc_id FROM documents
         WHERE doc_id % 10 = 7
           AND doc_id NOT IN (SELECT doc_id FROM near UNION SELECT doc_id FROM ex)
         ORDER BY doc_id"""),
    // oracle keys the cross-doc flag on the shingle STRING; the engine
    // keys on md5(shingle) — the gate re-checks the hash-for-string
    // substitution, as for text_novelty
    Gate("dedup_substr", Dedup.substrDupStatsDocs(_, _),
      """WITH pos AS (
           SELECT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents),
                UNNEST(generate_series(1, len(w) - 4)) AS t(i)
           WHERE len(w) >= 5),
         crossdoc AS (
           SELECT shingle FROM (SELECT DISTINCT doc_id, shingle FROM pos)
           GROUP BY shingle HAVING count(*) >= 2),
         tot AS (SELECT doc_id, count(*) AS total_positions
                 FROM pos GROUP BY 1),
         dup AS (SELECT doc_id, count(*) AS dup_positions FROM pos
                 WHERE shingle IN (SELECT shingle FROM crossdoc)
                 GROUP BY 1)
         SELECT t.doc_id,
           CAST(t.total_positions AS BIGINT) AS total_positions,
           CAST(coalesce(d.dup_positions, 0) AS BIGINT) AS dup_positions,
           round(coalesce(d.dup_positions, 0) / (1.0 * t.total_positions),
             6) AS dup_frac
         FROM tot t LEFT JOIN dup d ON d.doc_id = t.doc_id
         ORDER BY t.doc_id"""),
    // span REMOVAL: tokens covered by any df>=2 5-gram are cut and the
    // doc is reassembled; oracle keys flagging on the shingle STRING,
    // engine on md5(shingle) — the same hash-for-string substitution the
    // dedup_substr gate re-checks. The compare is on the rebuilt
    // clean_text itself, so the cut-and-stitch logic is value-gated.
    Gate("dedup_span_rm", Dedup.spanRemoveDocs(_, _),
      """WITH w AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
         pos AS (
           SELECT doc_id, i, array_to_string(w[i:i+4], ' ') AS shingle
           FROM w, UNNEST(generate_series(1, len(w) - 4)) AS t(i)
           WHERE len(w) >= 5),
         crossdoc AS (
           SELECT shingle FROM (SELECT DISTINCT doc_id, shingle FROM pos)
           GROUP BY shingle HAVING count(*) >= 2),
         cov AS (
           SELECT DISTINCT p.doc_id, j
           FROM (SELECT doc_id, i FROM pos
                 WHERE shingle IN (SELECT shingle FROM crossdoc)) p,
                UNNEST(generate_series(p.i, p.i + 4)) AS t(j)),
         toks AS (
           SELECT doc_id, j, w[j] AS tok
           FROM w, UNNEST(generate_series(1, len(w))) AS t(j)),
         kept AS (
           SELECT tk.doc_id, tk.j, tk.tok
           FROM toks tk LEFT JOIN cov c
             ON tk.doc_id = c.doc_id AND tk.j = c.j
           WHERE c.j IS NULL),
         agg AS (
           SELECT doc_id, count(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY j) AS clean_text
           FROM kept GROUP BY doc_id)
         SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_total,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(a.clean_text, '') AS clean_text
         FROM w LEFT JOIN agg a ON a.doc_id = w.doc_id
         ORDER BY w.doc_id"""),
    // exact dedup over the SAME normalization chain text_normalize
    // gates (NFC + casefold + whitespace collapse); oracle groups by
    // the normalized string, engine by its full md5 — the gate
    // re-checks the hash-for-string substitution
    Gate("dedup_norm", Dedup.normDedupDocs(_, _),
      """WITH n AS (
           SELECT doc_id,
             trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))
               AS norm
           FROM documents)
         SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
           count(*) AS n_variants
         FROM n GROUP BY norm ORDER BY doc_id"""),
    // synthetic re-crawl: old misses %10==7 (added), new drops %10==9
    // (removed) and rewrites %10==3 (changed); unchanged not emitted
    Gate("snapshot_diff", Dedup.snapshotDiffDocs(_, _),
      """WITH o AS (
           SELECT doc_id, md5(text) AS old_fp FROM documents
           WHERE doc_id % 10 != 7),
         n AS (
           SELECT doc_id,
             md5(CASE WHEN doc_id % 10 = 3 THEN text || ' v2'
                      ELSE text END) AS new_fp
           FROM documents WHERE doc_id % 10 != 9),
         j AS (
           SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.old_fp IS NULL THEN 'added'
                  WHEN n.new_fp IS NULL THEN 'removed'
                  WHEN o.old_fp != n.new_fp THEN 'changed'
                  ELSE 'unchanged' END AS status
           FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         SELECT doc_id, status FROM j
         WHERE status != 'unchanged' ORDER BY doc_id"""),
    // MERGE semantics: touched ids (updates ∪ inserts ∪ deletes) leave
    // the base; upsert payloads come back in — same synthetic changeset
    Gate("cdc_apply", Dedup.cdcApplyDocs(_, _), cdcApplyOracle),
    // Same df-capped candidate screen as dedup_jaccard, but verified on
    // CONTAINMENT |∩|/min(|A|,|B|) with NO size-ratio prune — the
    // asymmetric (doc-inside-doc) pairs Jaccard structurally misses.
    Gate("dedup_containment", Dedup.containmentDocs(_, _),
      s"""WITH sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                 FROM documents),
                UNNEST(generate_series(1, len(w) - 2)) AS t(i)
           WHERE len(w) >= 3),
         dfr AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
         hist AS (SELECT df, count(*) AS ns FROM dfr GROUP BY df),
         capq AS (
           SELECT greatest(least(
               coalesce(min(CASE WHEN cum_ns * 1000 >= 999 * tot_ns
                 THEN df END), 1),
               coalesce(max(CASE WHEN cum_pairs <=
                   (SELECT count(*) FROM documents)
                     * ${graft.operators.Dedup.JaccardPairsPerDoc}
                 THEN df END), 1)),
             2) AS cap
           FROM (SELECT df,
                   sum(ns) OVER (ORDER BY df) AS cum_ns,
                   (SELECT sum(ns) FROM hist) AS tot_ns,
                   sum(ns * (df * (df - 1) // 2)) OVER (ORDER BY df)
                     AS cum_pairs
                 FROM hist)),
         rare AS (SELECT shingle FROM dfr
                  WHERE df <= (SELECT cap FROM capq)),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sh a
           JOIN rare r ON r.shingle = a.shingle
           JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT c.doc_a, c.doc_b, count(*) AS n_inter
           FROM cand c
           JOIN sh a ON a.doc_id = c.doc_a
           JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
           GROUP BY 1, 2)
         SELECT doc_a, doc_b,
                round(n_inter * 1.0 / least(sa.n, sb.n), 6) AS cont,
                round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 6) AS jac
         FROM inter
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE n_inter * 1.0 / least(sa.n, sb.n) >= 0.8
         ORDER BY doc_a, doc_b"""),
    // soft dedup: same pair set + closure as dedup_clusters, but every
    // doc stays with weight 1/cluster-size in positive micro ints
    Gate("dedup_weights", Dedup.softDedupWeightsDocs(_, _),
      """WITH sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents),
                UNNEST(generate_series(1, len(w) - 2)) AS t(i)
           WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT doc_a, doc_b FROM inter
           JOIN sizes sa ON sa.doc_id = doc_a
           JOIN sizes sb ON sb.doc_id = doc_b
           WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.9),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                   UNION ALL SELECT doc_b, doc_a FROM pairs),
         reach AS (
           WITH RECURSIVE r(u, comp) AS (
             SELECT u, u FROM (SELECT DISTINCT u FROM edges)
             UNION
             SELECT e.u, r.comp FROM edges e JOIN r ON e.v = r.u)
           SELECT u, min(comp) AS component FROM r GROUP BY u),
         csize AS (SELECT component, count(*) AS m FROM reach GROUP BY 1)
         SELECT d.doc_id,
           CAST(coalesce(s.m, 1) AS BIGINT) AS n_members,
           CAST(1000000 // coalesce(s.m, 1) AS BIGINT) AS weight_micro
         FROM documents d
         LEFT JOIN reach r ON d.doc_id = r.u
         LEFT JOIN csize s ON r.component = s.component
         ORDER BY d.doc_id""", cachedIntermediate = true),
    // duplication-rate curve: same pair set + closure; fixed power-of-two
    // k ladder with zero-count rows kept
    Gate("dup_curve", Dedup.dupCurveDocs(_, _),
      """WITH sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents),
                UNNEST(generate_series(1, len(w) - 2)) AS t(i)
           WHERE len(w) >= 3),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT doc_a, doc_b FROM inter
           JOIN sizes sa ON sa.doc_id = doc_a
           JOIN sizes sb ON sb.doc_id = doc_b
           WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.9),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                   UNION ALL SELECT doc_b, doc_a FROM pairs),
         reach AS (
           WITH RECURSIVE r(u, comp) AS (
             SELECT u, u FROM (SELECT DISTINCT u FROM edges)
             UNION
             SELECT e.u, r.comp FROM edges e JOIN r ON e.v = r.u)
           SELECT u, min(comp) AS component FROM r GROUP BY u),
         csize AS (SELECT component, count(*) AS m FROM reach GROUP BY 1),
         perdoc AS (
           SELECT d.doc_id, coalesce(s.m, 1) AS m
           FROM documents d
           LEFT JOIN reach r ON d.doc_id = r.u
           LEFT JOIN csize s ON r.component = s.component),
         tot AS (SELECT count(*) AS n_total FROM perdoc)
         SELECT CAST(k AS BIGINT) AS k,
           CAST(sum(CASE WHEN m >= k THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN m >= k THEN 1 ELSE 0 END) * 1000000
             // n_total AS BIGINT) AS frac_micro
         FROM perdoc CROSS JOIN (VALUES (1), (2), (4), (8), (16), (32)) ks(k),
              tot
         GROUP BY k, n_total ORDER BY k""", cachedIntermediate = true),
    Gate("minhash_mergeable", Dedup.minhashMergeableDocs(_, _), minhashMergeableOracleSql),
    Gate("corpus_card", Monitoring.corpusCardDocs(_, _),
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
             AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
           round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE), 6) AS dup_ratio
         FROM documents"""),
    // --- training-data pipeline: similarity search over embeddings
    Gate("ann_topk", Similarity.annBruteForce(_, _), annTopkOracle),
    Gate("ann_lsh", Similarity.annLsh(_, _), annLshOracle),
    // recall@10 audit: LEFT JOIN keeps zero-candidate queries as 0-recall
    // rows; integer micro-rate, no float division (engine-exact)
    Gate("ann_recall", Similarity.annRecall(_, _),
      s"""WITH brute AS ($annTopkOracle),
         approx AS ($annLshOracle)
         SELECT b.q_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           (CAST(count(a.neighbor_id) AS BIGINT) * 1000000) // 10
             AS recall_micro
         FROM brute b LEFT JOIN approx a
           ON a.q_id = b.q_id AND a.neighbor_id = b.neighbor_id
         GROUP BY b.q_id ORDER BY b.q_id"""),
    // MRR audit: where the TRUE nearest neighbor (exact rank-1) landed in
    // the approximate list — reciprocal rank as exact integer micro-units
    // (1e6 // rank), 0 when missing; position-sensitive where recall@k
    // is overlap-only
    Gate("ann_mrr", Similarity.annMrr(_, _),
      s"""WITH brute AS ($annTopkOracle),
         approx AS ($annLshOracle)
         SELECT b.q_id,
           CAST(coalesce(a.rk, 0) AS BIGINT) AS true_nn_rank,
           CAST(CASE WHEN a.rk IS NULL THEN 0
             ELSE 1000000 // a.rk END AS BIGINT) AS rr_micro
         FROM brute b LEFT JOIN approx a
           ON a.q_id = b.q_id AND a.neighbor_id = b.neighbor_id
         WHERE b.rk = 1
         ORDER BY b.q_id"""),
    // IVF recall@10 audit — the LSH path's ann_recall twin, same
    // brute-force-vs-index LEFT JOIN and integer micro-rate
    Gate("ann_recall_ivf", Similarity.annRecallIvf(_, _),
      s"""WITH brute AS ($annTopkOracle),
         approx AS ($annIvfOracle)
         SELECT b.q_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           (CAST(count(a.neighbor_id) AS BIGINT) * 1000000) // 10
             AS recall_micro
         FROM brute b LEFT JOIN approx a
           ON a.q_id = b.q_id AND a.neighbor_id = b.neighbor_id
         GROUP BY b.q_id ORDER BY b.q_id"""),
    // PQ/ADC recall@10 audit: exact squared-L2 baseline (x.x - 2 x.q +
    // q.q, each dot the same fixed-order list_sum as Spark's vec_dot,
    // floor-micro-quantized) vs the pqAdcOracle chain verbatim
    Gate("ann_recall_pq", Similarity.annRecallPq(_, _),
      s"""WITH exact AS ($exactL2TopkOracle),
         approx AS ($pqAdcOracle)
         SELECT x.q_id,
           CAST(count(a.vec_id) AS BIGINT) AS n_hit,
           (CAST(count(a.vec_id) AS BIGINT) * 1000000) // 10
             AS recall_micro
         FROM exact x LEFT JOIN approx a
           ON a.q_id = x.q_id AND a.vec_id = x.neighbor_id
         GROUP BY x.q_id ORDER BY x.q_id"""),
    // incremental IVF upsert: delta slice assigned to BASE-derived seed
    // centroids — same argmax-cosine + larger-c_id tie spelling as
    // ann_ivf, same fixed-order double arithmetic, floor-micro cosine
    Gate("ivf_upsert", Similarity.ivfUpsertDocs(_, _), ivfUpsertOracle),
    // margin-based bitext mining: floor-micro cosines, exact BIGINT
    // neighborhood sums, positive-domain integer-division margin — the
    // ratio-margin criterion restated over the parity split
    Gate("bitext_mine", Similarity.bitextMarginDocs(_, _),
      bitextOracle(
        s"""pos AS (
           SELECT * FROM (
             SELECT x.vec_id AS x_id, y.vec_id AS y_id,
               CAST(floor(list_sum(list_transform(generate_series(1, 64),
                   d -> CAST(x.embedding[d] AS DOUBLE)
                     * CAST(y.embedding[d] AS DOUBLE)))
                 / (x.norm * y.norm) * 1e6) AS BIGINT) AS cos_micro
             FROM base x JOIN base y
               ON x.vec_id % 2 = 0
                 AND x.vec_id < ${operators.Similarity.BitextGateXMaxId}
                 AND y.vec_id % 2 = 1)
           WHERE cos_micro > 0)""")),
    // the IVF-probed spelling: ann_ivf's cell/probe CTEs generate the
    // candidate pairs, then the identical margin chain
    Gate("bitext_mine_ivf", Similarity.bitextMarginIvfDocs(_, _),
      bitextOracle(
        s"""cents AS (
           SELECT vec_id AS c_id, embedding AS c_emb, norm AS c_norm
           FROM base WHERE vec_id < 16),
         scores AS (
           SELECT b.vec_id, c.c_id,
             list_sum(list_transform(generate_series(1, 64),
               d -> CAST(b.embedding[d] AS DOUBLE) * CAST(c.c_emb[d] AS DOUBLE)))
               / (b.norm * c.c_norm) AS ccos
           FROM base b CROSS JOIN cents c),
         assigned AS (
           SELECT vec_id, c_id AS cell FROM (
             SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY ccos DESC, c_id DESC) AS rn
             FROM scores) WHERE rn = 1),
         probes AS (
           SELECT vec_id AS x_id, c_id AS probe_cell FROM (
             SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY ccos DESC, c_id DESC) AS rn
             FROM scores) WHERE rn <= 4 AND vec_id % 2 = 0
               AND vec_id < ${operators.Similarity.BitextGateXMaxId}),
         pos AS (
           SELECT * FROM (
             SELECT p.x_id, a.vec_id AS y_id,
               CAST(floor(list_sum(list_transform(generate_series(1, 64),
                   d -> CAST(bx.embedding[d] AS DOUBLE)
                     * CAST(by.embedding[d] AS DOUBLE)))
                 / (bx.norm * by.norm) * 1e6) AS BIGINT) AS cos_micro
             FROM probes p
             JOIN assigned a ON a.cell = p.probe_cell AND a.vec_id % 2 = 1
             JOIN base bx ON bx.vec_id = p.x_id
             JOIN base by ON by.vec_id = a.vec_id)
           WHERE cos_micro > 0)""")),
    // oracle masks key on the shingle STRING; the engine keys on
    // xxhash64(shingle) — the gate re-checks the substitution, as for
    // text_novelty / dedup_substr
    Gate("source_overlap", Monitoring.sourceOverlapDocs(_, _),
      """WITH sh AS (
           SELECT CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) AS sid,
             array_to_string(w[i:i+7], ' ') AS shingle
           FROM (SELECT source, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents),
                UNNEST(generate_series(1, len(w) - 7)) AS t(i)
           WHERE len(w) >= 8),
         masks AS (
           SELECT shingle, bit_or(1::BIGINT << sid) AS mask
           FROM sh GROUP BY shingle),
         hist AS (SELECT mask, count(*) AS n FROM masks GROUP BY mask),
         grid AS (
           SELECT s1.a, s2.b
           FROM generate_series(0, 19) s1(a), generate_series(0, 19) s2(b)
           WHERE s1.a <= s2.b)
         SELECT CAST(g.a AS INT) AS src_a, CAST(g.b AS INT) AS src_b,
           CAST(sum(h.n) AS BIGINT) AS n_shared
         FROM hist h JOIN grid g
           ON ((h.mask >> g.a) & 1) = 1 AND ((h.mask >> g.b) & 1) = 1
         GROUP BY g.a, g.b ORDER BY src_a, src_b"""),
    // prob_micro is the gate's own 4-decimal probability lifted to an
    // exact integer, so binning and both rates are pure BIGINT arithmetic
    Gate("quality_calibration", QualityModel.calibrationDocs(_, _),
      """WITH f AS (
           SELECT ln(1.0 + len(w)) AS f1,
             CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS f2,
             CAST(len(list_filter(w, t -> len(t) >= 3)) AS DOUBLE) / len(w)
               AS f3,
             len(w) AS n_tok,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS ar,
             CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dr
           FROM (SELECT text, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents)),
         s AS (
           SELECT CAST(round(round(1.0 / (1.0 + exp(
               -(-3.15 + 0.45 * f1 + 1.2 * f2 + 0.8 * f3))), 4) * 10000)
               AS BIGINT) AS prob_micro,
             CASE WHEN n_tok < 12 OR ar < 0.78 OR dr < 0.35
               THEN 0 ELSE 1 END AS ck
           FROM f),
         b AS (
           SELECT least(prob_micro * 20 // 10000, 19) AS bin,
             prob_micro, ck
           FROM s)
         SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n,
           CAST(sum(ck) AS BIGINT) AS n_cascade_keep,
           (CAST(sum(ck) AS BIGINT) * 1000000) // count(*)
             AS cascade_keep_micro,
           (CAST(sum(prob_micro) AS BIGINT) * 100) // count(*)
             AS mean_prob_micro
         FROM b GROUP BY bin ORDER BY bin"""),
    // weak supervision: four integer-statistic labeling functions with
    // abstention; label = vote sign, confidence = |sum|/non-abstaining
    Gate("weak_labels", QualityModel.weakLabelsDocs(_, _), weakLabelsOracle),
    // pairwise Cohen's kappa over the LF votes — chance-corrected
    // agreement as a (num, den) pair (negative kappa never divides:
    // truncating vs flooring division diverges below zero)
    Gate("label_agreement", QualityModel.labelAgreementDocs(_, _), labelAgreementOracle),
    // mergeable-sketch audit: the oracle owns the exact distinct and
    // asserts every sketch verdict TRUE (the q18 sketch-gating pattern)
    Gate("hll_mergeable", Monitoring.hllMergeableDocs(_, _),
      """SELECT CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_exact,
           TRUE AS direct_ok, TRUE AS merged_ok, TRUE AS merge_consistent
         FROM documents"""),
    Gate("kanon_audit", Monitoring.kanonDocs(_, _),
      """SELECT lang, source, n_chars // 100 AS len_bucket,
           count(*) AS n
         FROM documents
         GROUP BY 1, 2, 3 HAVING count(*) < 5
         ORDER BY lang, source, len_bucket"""),
    // l-diversity: class size + exact distinct sensitive-value count,
    // classes below l — the homogeneity-attack audit on top of kanon
    Gate("ldiv_audit", Monitoring.ldivDocs(_, _),
      s"""SELECT source, n_chars // 100 AS len_bucket, count(*) AS n,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_sensitive
         FROM documents
         GROUP BY 1, 2
         HAVING count(DISTINCT lang) < ${graft.operators.Monitoring.LDivL}
         ORDER BY source, len_bucket"""),
    // oracle keys token counts on the token STRING; the engine keys on
    // xxhash64(token) — the gate re-checks the substitution. Every
    // per-token term floors to integer micro-nats BEFORE the sum, so
    // float summation order cannot leak into the hash.
    Gate("text_entropy", TextAnalysis.tokenEntropyDocs(_, _),
      """WITH t AS (
           SELECT doc_id, tok, count(*) AS k
           FROM (SELECT doc_id,
                   UNNEST(regexp_split_to_array(trim(text), '\s+')) AS tok
                 FROM documents)
           WHERE len(tok) > 0 GROUP BY doc_id, tok),
         d AS (
           SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct,
             CAST(sum(CAST(floor(k * ln(k) * 1000000) AS BIGINT))
               AS BIGINT) AS sm
           FROM t GROUP BY doc_id)
         SELECT doc_id, n_tokens, n_distinct,
           greatest(0, CAST(floor(ln(n_tokens) * 1000000) AS BIGINT)
             - sm // n_tokens) AS entropy_micro
         FROM d ORDER BY doc_id"""),
    // the IVF index is fully relational (centroids ARE data vectors), so
    // the approximate path itself is oracle-checkable, probe-for-probe
    Gate("ann_ivf", Similarity.annIvf(_, _), annIvfOracle),
    // trained-centroid IVF: the Lloyd chain over unit vectors + the
    // ann_ivf probe spelling — the formerly spec-only path, hash-gated
    Gate("ann_ivf_kmeans", Similarity.annIvfKmeans(_, _), annIvfKmeansOracle),
    // sampled-trainer arm: the same chain + probe spelling with the
    // trainer input gated to the deterministic quarter sample — the
    // bounded-training 100 TB path, still hash-exact
    Gate("ann_ivf_kmeans_sampled", Similarity.annIvfKmeansSampled(_, _), annIvfKmeansSampledOracle),
    // recall audits for the trained and sample-trained IVF paths — the
    // ann_recall_ivf pattern with the Lloyd-chain oracles as approx
    Gate("ann_recall_ivf_kmeans", Similarity.annRecallIvfKmeans(_, _),
      s"""WITH brute AS ($annTopkOracle),
         approx AS ($annIvfKmeansOracle)
         SELECT b.q_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           (CAST(count(a.neighbor_id) AS BIGINT) * 1000000) // 10
             AS recall_micro
         FROM brute b LEFT JOIN approx a
           ON a.q_id = b.q_id AND a.neighbor_id = b.neighbor_id
         GROUP BY b.q_id ORDER BY b.q_id"""),
    Gate("ann_recall_ivf_sampled", Similarity.annRecallIvfSampled(_, _),
      s"""WITH brute AS ($annTopkOracle),
         approx AS ($annIvfKmeansSampledOracle)
         SELECT b.q_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           (CAST(count(a.neighbor_id) AS BIGINT) * 1000000) // 10
             AS recall_micro
         FROM brute b LEFT JOIN approx a
           ON a.q_id = b.q_id AND a.neighbor_id = b.neighbor_id
         GROUP BY b.q_id ORDER BY b.q_id"""),
    // the trained IVF-PQ + exact-refine stack (five Lloyd chains) and
    // its three-layer recall audit vs the exact-L2 baseline
    Gate("ivf_pq_trained_topk", Similarity.ivfPqTrainedTopKDocs(_, _), ivfPqTrainedOracle),
    Gate("ann_recall_ivf_pq_trained", Similarity.annRecallIvfPqTrained(_, _),
      s"""WITH exact AS ($exactL2TopkOracle),
         approx AS ($ivfPqTrainedOracle)
         SELECT x.q_id,
           CAST(count(a.vec_id) AS BIGINT) AS n_hit,
           (CAST(count(a.vec_id) AS BIGINT) * 1000000) // 10
             AS recall_micro
         FROM exact x LEFT JOIN approx a
           ON a.q_id = x.q_id AND a.vec_id = x.neighbor_id
         GROUP BY x.q_id ORDER BY x.q_id"""),
    // the sample-trained arm of the stack (all five chains gated to the
    // md5 quarter slice) and its recall-parity audit
    Gate("ivf_pq_trained_sampled", Similarity.ivfPqTrainedSampledTopKDocs(_, _),
      ivfPqTrainedSampledOracle),
    Gate("ann_recall_ivf_pq_sampled", Similarity.annRecallIvfPqSampled(_, _),
      s"""WITH exact AS ($exactL2TopkOracle),
         approx AS ($ivfPqTrainedSampledOracle)
         SELECT x.q_id,
           CAST(count(a.vec_id) AS BIGINT) AS n_hit,
           (CAST(count(a.vec_id) AS BIGINT) * 1000000) // 10
             AS recall_micro
         FROM exact x LEFT JOIN approx a
           ON a.q_id = x.q_id AND a.vec_id = x.neighbor_id
         GROUP BY x.q_id ORDER BY x.q_id"""),
    // exact all-pairs restatement: the Spark side is LSH-bucketed with
    // exact verify, so its output is a (full-recall at these cosines)
    // subset of this — equality checked over the whole table
    Gate("embed_neardup", Similarity.embedNearDup(_, _),
      """WITH base AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
           FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_sum(list_transform(generate_series(1, 64),
               d -> CAST(a.embedding[d] AS DOUBLE) * CAST(b.embedding[d] AS DOUBLE)))
             / (a.norm * b.norm), 4) AS cos
         FROM base a JOIN base b ON a.vec_id < b.vec_id
         WHERE list_sum(list_transform(generate_series(1, 64),
               d -> CAST(a.embedding[d] AS DOUBLE) * CAST(b.embedding[d] AS DOUBLE)))
             / (a.norm * b.norm) >= 0.9
         ORDER BY id_a, id_b"""),
    Gate("kmeans_assign", Clustering.kmeansAssign(_, _), kmeansAssignOracleSql),
    // The deterministic half of k-means, fully value-gated: assignment
    // against the fixed dyadic-grid centroids (Clustering.fixedCentroids),
    // inlined below as exact decimal literals (each coordinate is k/1024 −
    // 0.5 and each interpolated square-sum is an exact dyadic double, so
    // both engines parse bit-identical values and run the identical
    // left-to-right double arithmetic).
    Gate("kmeans_fixed_assign", Clustering.kmeansFixedAssign(_, _),
      s"""WITH cents(c_id, c, c2) AS (VALUES
           ${kmeansCentroidValues()}),
         scored AS (
           SELECT e.vec_id, c.c_id,
             c.c2 - 2 * list_sum(list_transform(generate_series(1, 64),
                 d -> CAST(e.embedding[d] AS DOUBLE) * c.c[d])) AS d,
             list_sum(list_transform(e.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS v2
           FROM embeddings e CROSS JOIN cents c),
         ranked AS (
           SELECT vec_id, c_id, d, v2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, c_id) AS rk
           FROM scored)
         SELECT vec_id, c_id AS cluster, round(v2 + d, 4) AS dist2
         FROM ranked WHERE rk = 1 ORDER BY vec_id"""),
    // SemDeDup: fixed-centroid assignment (same VALUES as kmeans_fixed),
    // then within-cluster cosine pruning keeping the lowest vec_id; the
    // τ compare is raw doubles — SemDedupTau sits in a measured 1.3e-4
    // gap of the pairwise-cosine distribution, ulp-safe on both engines
    Gate("semdedup", Clustering.semDedupDocs(_, _),
      s"""WITH cents(c_id, c, c2) AS (VALUES
           ${kmeansCentroidValues()}),
         scored AS (
           SELECT e.vec_id, c.c_id,
             c.c2 - 2 * list_sum(list_transform(generate_series(1, 64),
                 d -> CAST(e.embedding[d] AS DOUBLE) * c.c[d])) AS d
           FROM embeddings e CROSS JOIN cents c),
         assign AS (
           SELECT vec_id, c_id AS cluster FROM (
             SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, c_id) AS rk
             FROM scored) WHERE rk = 1),
         base AS (
           SELECT e.vec_id, a.cluster, e.embedding,
             sqrt(list_sum(list_transform(e.embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
           FROM embeddings e JOIN assign a USING (vec_id)),
         dominated AS (
           SELECT DISTINCT v.vec_id
           FROM base u JOIN base v
             ON u.cluster = v.cluster AND u.vec_id < v.vec_id
           WHERE list_sum(list_transform(generate_series(1, 64),
               d -> CAST(u.embedding[d] AS DOUBLE)
                 * CAST(v.embedding[d] AS DOUBLE)))
             / (u.norm * v.norm) >= ${operators.Clustering.SemDedupTau})
         SELECT b.vec_id, b.cluster FROM base b
         WHERE b.vec_id NOT IN (SELECT vec_id FROM dominated)
         ORDER BY b.vec_id"""),
    // PQ: integer codes only — argmin of the same c²−2·v·c doubles the
    // kmeans_fixed gate proved bit-identical, ties broken by centroid id
    Gate("pq_codes", Similarity.pqCodesDocs(_, _),
      s"""WITH cents(sub, c_id, c, c2) AS (VALUES
           ${pqCentroidValues()}),
         scored AS (
           SELECT e.vec_id, c.sub, c.c_id,
             c.c2 - 2 * list_sum(list_transform(generate_series(1, 16),
                 d -> CAST(e.embedding[c.sub * 16 + d] AS DOUBLE) * c.c[d]))
               AS dist
           FROM embeddings e CROSS JOIN cents c),
         ranked AS (
           SELECT vec_id, sub, c_id,
             row_number() OVER (PARTITION BY vec_id, sub
               ORDER BY dist, c_id) AS rk
           FROM scored)
         SELECT vec_id,
           CAST(max(CASE WHEN sub = 0 THEN c_id END) AS INTEGER) AS code0,
           CAST(max(CASE WHEN sub = 1 THEN c_id END) AS INTEGER) AS code1,
           CAST(max(CASE WHEN sub = 2 THEN c_id END) AS INTEGER) AS code2,
           CAST(max(CASE WHEN sub = 3 THEN c_id END) AS INTEGER) AS code3
         FROM ranked WHERE rk = 1 GROUP BY vec_id ORDER BY vec_id"""),
    // trained per-subspace PQ codebooks: four unrolled Lloyd chains +
    // the shared argmin CTE — the adaptive-codebook production path,
    // hash-gated because the trainer is engine-exact
    Gate("pq_trained_codes", Similarity.pqTrainedCodesDocs(_, _), pqTrainedCodesOracle),
    // ADC probe over the PQ codes: same codebook VALUES + argmin CTE as
    // pq_codes; per-(query, subspace, centroid) table entries are the
    // same fixed-order doubles floor-quantized to micro BIGINTs, so the
    // GROUP BY distance sum is an exact integer sum in any order
    Gate("pq_adc_topk", Similarity.pqAdcTopKDocs(_, _), pqAdcOracle),
    // IVF-PQ: coarse cells from the kmeans_fixed centroid VALUES, probe
    // lists from the same distance ranking, ADC via the pq codebook
    // VALUES — every ranking input integer or fixed-order double
    Gate("ivf_pq_topk", Similarity.ivfPqTopKDocs(_, _),
      s"""WITH kc(c_id, c, c2) AS (VALUES
           ${kmeansCentroidValues()}),
         pc(sub, p_id, pcv, pc2) AS (VALUES
           ${pqCentroidValues()}),
         cellscore AS (
           SELECT e.vec_id, k.c_id,
             k.c2 - 2 * list_sum(list_transform(generate_series(1, 64),
               d -> CAST(e.embedding[d] AS DOUBLE) * k.c[d])) AS d
           FROM embeddings e CROSS JOIN kc k),
         cells AS (
           SELECT vec_id, c_id AS cell FROM (
             SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, c_id) AS rk
             FROM cellscore) WHERE rk = 1),
         probes AS (
           SELECT vec_id AS q_id, c_id AS cell FROM (
             SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, c_id) AS rk
             FROM cellscore WHERE vec_id < 10) WHERE rk <= 4),
         pscored AS (
           SELECT e.vec_id, p.sub, p.p_id,
             p.pc2 - 2 * list_sum(list_transform(generate_series(1, 16),
               d -> CAST(e.embedding[p.sub * 16 + d] AS DOUBLE) * p.pcv[d]))
               AS dist
           FROM embeddings e CROSS JOIN pc p),
         codes AS (
           SELECT vec_id, sub, p_id FROM (
             SELECT vec_id, sub, p_id,
               row_number() OVER (PARTITION BY vec_id, sub
                 ORDER BY dist, p_id) AS rk
             FROM pscored) WHERE rk = 1),
         tbl AS (
           SELECT q.vec_id AS q_id, p.sub, p.p_id,
             CAST(floor((p.pc2 - 2 * list_sum(list_transform(
                 generate_series(1, 16),
                 d -> CAST(q.embedding[p.sub * 16 + d] AS DOUBLE) * p.pcv[d])))
               * 1e6) AS BIGINT) AS t_micro
           FROM embeddings q CROSS JOIN pc p WHERE q.vec_id < 10),
         adist AS (
           SELECT t.q_id, co.vec_id,
             CAST(sum(t.t_micro) AS BIGINT) AS adist_micro
           FROM codes co
           JOIN cells ce ON ce.vec_id = co.vec_id
           JOIN probes pr ON pr.cell = ce.cell
           JOIN tbl t ON t.q_id = pr.q_id AND t.sub = co.sub
             AND t.p_id = co.p_id
           WHERE t.q_id != co.vec_id
           GROUP BY t.q_id, co.vec_id),
         ranked AS (
           SELECT q_id, vec_id, adist_micro,
             row_number() OVER (PARTITION BY q_id
               ORDER BY adist_micro, vec_id) AS rk
           FROM adist)
         SELECT q_id, rk, vec_id, adist_micro FROM ranked
         WHERE rk <= 10 ORDER BY q_id, rk"""),
    // hard negatives: ann_topk's rounded-cosine ranking with the
    // different-label predicate in the join
    Gate("hard_negatives", Similarity.hardNegativesDocs(_, _),
      """WITH base AS (
           SELECT vec_id, label, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
           FROM embeddings),
         scored AS (
           SELECT q.vec_id AS q_id, q.label AS q_label,
             c.vec_id, c.label,
             round(list_sum(list_transform(generate_series(1, 64),
                 d -> CAST(c.embedding[d] AS DOUBLE) * CAST(q.embedding[d] AS DOUBLE)))
               / (c.norm * q.norm), 4) AS cos
           FROM base q JOIN base c
             ON q.vec_id < 10 AND c.vec_id >= 10 AND c.label != q.label),
         ranked AS (
           SELECT q_id, q_label, vec_id, label, cos,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos DESC, vec_id) AS rk
           FROM scored)
         SELECT q_id, q_label, rk, vec_id AS neg_id, label AS neg_label,
           cos
         FROM ranked WHERE rk <= 5 ORDER BY q_id, rk"""),
    // int8 scalar quantization: the oracle derives the SAME per-dim
    // scales from the parquet (max|x|/127) and replays the identical
    // clamp(floor(x/s + 0.5)) — float→double widening, the division
    // and floor are all engine-exact, so codes compare raw
    Gate("embed_quantize_i8", Similarity.quantizeI8Docs(_, _),
      s"""$i8Ctes
         SELECT vec_id, i AS dim, q8 FROM q ORDER BY vec_id, dim"""),
    // int8 serving path: integer dot products (exact in any order),
    // ties on vec_id
    Gate("ann_i8_topk", Similarity.i8TopKDocs(_, _),
      s"""$i8Ctes,
         pairs AS (
           SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
             CAST(sum(a.q8 * b.q8) AS BIGINT) AS dot
           FROM q a JOIN q b ON a.i = b.i
             AND a.vec_id < 10 AND b.vec_id != a.vec_id
           GROUP BY 1, 2),
         ranked AS (
           SELECT q_id, vec_id, dot, row_number() OVER (PARTITION BY q_id
             ORDER BY dot DESC, vec_id) AS rk
           FROM pairs)
         SELECT q_id, rk, vec_id, dot FROM ranked
         WHERE rk <= 10 ORDER BY q_id, rk"""),
    // matryoshka funnel: prefix-dim shortlist then full-dim rerank,
    // both scores floor-micro-quantized so both rankings are
    // integer-exact; the oracle replays the same two-stage cut
    Gate("matryoshka_topk", Similarity.matryoshkaTopKDocs(_, _),
      """WITH q AS (
           SELECT vec_id AS q_id, embedding AS qv FROM embeddings
           WHERE vec_id < 10),
         s1 AS (
           SELECT q_id, c.vec_id, c.embedding AS cv,
             CAST(floor(list_sum(list_transform(generate_series(1, 16),
               d -> CAST(c.embedding[d] AS DOUBLE) * CAST(qv[d] AS DOUBLE)))
               * 1e6) AS BIGINT) AS d16
           FROM embeddings c JOIN q ON c.vec_id != q_id),
         r1 AS (
           SELECT *, row_number() OVER (PARTITION BY q_id
             ORDER BY d16 DESC, vec_id) AS rk1
           FROM s1),
         s2 AS (
           SELECT r1.q_id, r1.vec_id,
             CAST(floor(list_sum(list_transform(generate_series(1, 64),
               d -> CAST(cv[d] AS DOUBLE) * CAST(qv[d] AS DOUBLE)))
               * 1e6) AS BIGINT) AS d64
           FROM r1 JOIN q ON r1.q_id = q.q_id
           WHERE rk1 <= 50),
         r2 AS (
           SELECT q_id, vec_id, d64, row_number() OVER (PARTITION BY q_id
             ORDER BY d64 DESC, vec_id) AS rk
           FROM s2)
         SELECT q_id, rk, vec_id, d64 FROM r2
         WHERE rk <= 10 ORDER BY q_id, rk"""),
    Gate("rp_project", Similarity.rpProjectDocs(_, _), rpProjectOracleSql),
    Gate("ann_rp_topk", Similarity.rpTopKDocs(_, _), rpTopKOracleSql),
    // RP-funnel recall audit against the exact raw-dot baseline (the
    // funnel's own metric — cosine would mischarge the projection)
    Gate("ann_recall_rp", Similarity.annRecallRp(_, _),
      s"""WITH exact AS (
           WITH q AS (
             SELECT vec_id AS q_id, embedding AS qv FROM embeddings
             WHERE vec_id < 10),
           s AS (
             SELECT q_id, c.vec_id,
               CAST(floor(list_sum(list_transform(generate_series(1, 64),
                 d -> CAST(c.embedding[d] AS DOUBLE) * CAST(qv[d] AS DOUBLE)))
                 * 1e6) AS BIGINT) AS d64
             FROM embeddings c JOIN q ON c.vec_id != q.q_id),
           r AS (
             SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
               ORDER BY d64 DESC, vec_id) AS rk
             FROM s)
           SELECT q_id, vec_id FROM r WHERE rk <= 10),
         approx AS ($rpTopKOracleSql)
         SELECT e.q_id,
           CAST(count(a.vec_id) AS BIGINT) AS n_hit,
           (CAST(count(a.vec_id) AS BIGINT) * 1000000) // 10
             AS recall_micro
         FROM exact e LEFT JOIN approx a
           ON a.q_id = e.q_id AND a.vec_id = e.vec_id
         GROUP BY e.q_id ORDER BY e.q_id"""),
    // 1-bit binarization: the oracle replays the identical CASE-gated
    // power-of-two folds (a sum of distinct bits IS their OR); the only
    // float op on either side is the >= 0 sign test
    Gate("embed_binarize", Similarity.binarizeDocs(_, _),
      s"""WITH $binSigCte
         SELECT vec_id, sig_lo, sig_hi,
           CAST(bit_count(sig_lo) + bit_count(sig_hi) AS BIGINT) AS n_pos
         FROM sig ORDER BY vec_id"""),
    // mean-centered binarization: per-dim means re-derived in-query as
    // floor-quantized micro sums divided by the count — DuckDB's integer
    // // TRUNCATES toward zero (it floors only on doubles), matching
    // Scala Long division — then the same CASE-gated power-of-two folds
    // over the centered micro values
    Gate("embed_center_binarize", Similarity.centerBinarizeDocs(_, _),
      """WITH q AS (
           SELECT i,
             CAST(sum(CAST(floor(embedding[i] * 1e6) AS BIGINT))
               AS BIGINT) // count(*) AS m
           FROM embeddings, UNNEST(generate_series(1, 64)) t(i)
           GROUP BY i),
         ml AS (SELECT list(m ORDER BY i) AS ms FROM q),
         sig AS (
           SELECT vec_id,
             CAST(list_sum(list_transform(generate_series(0, 31), d ->
               CASE WHEN CAST(floor(embedding[d + 1] * 1e6) AS BIGINT)
                   - ms[d + 1] >= 0
                 THEN CAST(1 AS BIGINT) << d
                 ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sig_lo,
             CAST(list_sum(list_transform(generate_series(0, 31), d ->
               CASE WHEN CAST(floor(embedding[d + 33] * 1e6) AS BIGINT)
                   - ms[d + 33] >= 0
                 THEN CAST(1 AS BIGINT) << d
                 ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sig_hi
           FROM embeddings, ml)
         SELECT vec_id, sig_lo, sig_hi,
           CAST(bit_count(sig_lo) + bit_count(sig_hi) AS BIGINT) AS n_pos
         FROM sig ORDER BY vec_id"""),
    // Hamming serving path: distance = two xor+popcount words,
    // integer-exact in any engine; ascending ties on vec_id
    Gate("ann_ham_topk", Similarity.hammingTopKDocs(_, _),
      s"""WITH $binSigCte,
         q AS (
           SELECT vec_id AS q_id, sig_lo AS q_lo, sig_hi AS q_hi
           FROM sig WHERE vec_id < 10),
         pairs AS (
           SELECT q_id, s.vec_id,
             CAST(bit_count(xor(s.sig_lo, q_lo))
                + bit_count(xor(s.sig_hi, q_hi)) AS BIGINT) AS ham
           FROM sig s JOIN q ON s.vec_id != q.q_id),
         ranked AS (
           SELECT q_id, vec_id, ham, row_number() OVER (PARTITION BY q_id
             ORDER BY ham, vec_id) AS rk
           FROM pairs)
         SELECT q_id, rk, vec_id, ham FROM ranked
         WHERE rk <= 10 ORDER BY q_id, rk"""),
    // banded Hamming ANN: candidates share >= 1 of the eight 8-bit
    // bands (equi-join, never a per-query corpus scan), then the exact
    // two-popcount rank — the simhash-banding pattern on the 1-bit index
    Gate("ann_ham_lsh", Similarity.hammingLshTopKDocs(_, _), hamLshOracleSql),
    // banded-path recall audit vs the exact Hamming scan — prices the
    // bucket-collision recall loss past the pigeonhole radius
    Gate("ann_recall_ham_lsh", Similarity.annRecallHamLsh(_, _),
      s"""WITH exact AS (
           WITH $binSigCte,
           q AS (
             SELECT vec_id AS q_id, sig_lo AS q_lo, sig_hi AS q_hi
             FROM sig WHERE vec_id < 10),
           pairs AS (
             SELECT q_id, s.vec_id,
               CAST(bit_count(xor(s.sig_lo, q_lo))
                  + bit_count(xor(s.sig_hi, q_hi)) AS BIGINT) AS ham
             FROM sig s JOIN q ON s.vec_id != q.q_id),
           ranked AS (
             SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
               ORDER BY ham, vec_id) AS rk
             FROM pairs)
           SELECT q_id, vec_id FROM ranked WHERE rk <= 10),
         approx AS ($hamLshOracleSql)
         SELECT e.q_id,
           CAST(count(a.vec_id) AS BIGINT) AS n_hit,
           (CAST(count(a.vec_id) AS BIGINT) * 1000000) // 10
             AS recall_micro
         FROM exact e LEFT JOIN approx a
           ON a.q_id = e.q_id AND a.vec_id = e.vec_id
         GROUP BY e.q_id ORDER BY e.q_id"""),
    // 1-bit funnel: Hamming shortlist, then the matryoshka-style
    // full-dim floor-micro dot rerank behind the shortlist cut
    Gate("ann_ham_rerank", Similarity.hammingRerankDocs(_, _), hamRerankOracleSql),
    // 1-bit funnel recall audit vs the exact raw-dot baseline (the
    // funnel reranks by the micro dot, so that is its own metric)
    Gate("ann_recall_ham", Similarity.annRecallHam(_, _),
      s"""WITH exact AS (
           WITH q AS (
             SELECT vec_id AS q_id, embedding AS qv FROM embeddings
             WHERE vec_id < 10),
           s AS (
             SELECT q_id, c.vec_id,
               CAST(floor(list_sum(list_transform(generate_series(1, 64),
                 d -> CAST(c.embedding[d] AS DOUBLE) * CAST(qv[d] AS DOUBLE)))
                 * 1e6) AS BIGINT) AS d64
             FROM embeddings c JOIN q ON c.vec_id != q.q_id),
           r AS (
             SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
               ORDER BY d64 DESC, vec_id) AS rk
             FROM s)
           SELECT q_id, vec_id FROM r WHERE rk <= 10),
         approx AS ($hamRerankOracleSql)
         SELECT e.q_id,
           CAST(count(a.vec_id) AS BIGINT) AS n_hit,
           (CAST(count(a.vec_id) AS BIGINT) * 1000000) // 10
             AS recall_micro
         FROM exact e LEFT JOIN approx a
           ON a.q_id = e.q_id AND a.vec_id = e.vec_id
         GROUP BY e.q_id ORDER BY e.q_id"""),
    // PQ funnel: the ADC chain at shortlist width + exact-L2 rerank —
    // the near-tie remedy as an oracle-gated operator, not prose
    Gate("pq_rerank_topk", Similarity.pqRerankTopKDocs(_, _), pqRerankOracle),
    // the funnel's recall audit vs the same exact-L2 baseline raw ADC
    // is audited against — the jitter probe's falsification target
    Gate("ann_recall_pq_rerank", Similarity.annRecallPqRerank(_, _),
      s"""WITH exact AS ($exactL2TopkOracle),
         approx AS ($pqRerankOracle)
         SELECT x.q_id,
           CAST(count(a.vec_id) AS BIGINT) AS n_hit,
           (CAST(count(a.vec_id) AS BIGINT) * 1000000) // 10
             AS recall_micro
         FROM exact x LEFT JOIN approx a
           ON a.q_id = x.q_id AND a.vec_id = x.neighbor_id
         GROUP BY x.q_id ORDER BY x.q_id"""),
    // TRAINED-book funnel: four Lloyd trainings + the shared ADC body at
    // the constant k-proportional shortlist + the shared exact-L2 rerank
    Gate("pq_trained_rerank", Similarity.pqTrainedRerankTopKDocs(_, _), pqTrainedRerankOracle),
    // the trained funnel's recall audit vs the same exact-L2 baseline —
    // must hold the floor at j=0.15 AND j=0.3 (the untrained funnel's
    // corpus/4 shortlist reads 0.50 at j=0.3)
    Gate("ann_recall_pq_trained", Similarity.annRecallPqTrained(_, _),
      s"""WITH exact AS ($exactL2TopkOracle),
         approx AS ($pqTrainedRerankOracle)
         SELECT x.q_id,
           CAST(count(a.vec_id) AS BIGINT) AS n_hit,
           (CAST(count(a.vec_id) AS BIGINT) * 1000000) // 10
             AS recall_micro
         FROM exact x LEFT JOIN approx a
           ON a.q_id = x.q_id AND a.vec_id = x.neighbor_id
         GROUP BY x.q_id ORDER BY x.q_id"""),
    // banded multi-probe float LSH + its recall audit vs the exact
    // cosine baseline — the jitter-hardened candidate generator gated
    Gate("ann_lsh_mp", Similarity.annLshMp(_, _), annLshMpOracle),
    Gate("ann_recall_lsh_mp", Similarity.annRecallLshMp(_, _),
      s"""WITH brute AS ($annTopkOracle),
         approx AS ($annLshMpOracle)
         SELECT b.q_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           (CAST(count(a.neighbor_id) AS BIGINT) * 1000000) // 10
             AS recall_micro
         FROM brute b LEFT JOIN approx a
           ON a.q_id = b.q_id AND a.neighbor_id = b.neighbor_id
         GROUP BY b.q_id ORDER BY b.q_id"""),
    // --- training-data pipeline: post-training (SFT / preference) prep
    // DPO preference pairs: the oracle restates the max/min-of-struct
    // selection as two row_number windows over the identical
    // (micro-score, id) total order; all-tie groups drop on both sides
    Gate("dpo_pairs", Posttraining.dpoPairsDocs(_, _), dpoPairsOracle),
    // SFT assembly: ordered group-concat replayed via string_agg with
    // the same (ts, event_id) order key; ts is only a sort key (never
    // rendered), so timestamp formatting can't leak into the md5
    Gate("chat_assemble", Posttraining.chatAssembleDocs(_, _),
      """WITH t AS (
           SELECT user_id, ts, event_id,
             event_type || ':' ||
               CAST(CAST(floor(value * 1e6) AS BIGINT) AS VARCHAR) AS s
           FROM events),
         a AS (
           SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_turns,
             string_agg(s, '|' ORDER BY ts, event_id) AS transcript
           FROM t GROUP BY user_id)
         SELECT user_id, n_turns,
           CAST(length(transcript) AS BIGINT) AS total_chars,
           string_split(transcript, '|')[1] AS first_turn,
           string_split(transcript, '|')[-1] AS last_turn,
           md5(transcript) AS fp
         FROM a ORDER BY user_id""", cachedIntermediate = true),
    // GRPO advantage: exact integer numerator v·n − Σv (the engine never
    // divides); DuckDB's windowed sum over BIGINT is HUGEINT, so cast.
    // The quantization mirrors boundedMicro's ±2^41 loud bound (see
    // boundedMicroSql) so the guard errors on both engines alike.
    Gate("grpo_advantage", Posttraining.grpoAdvantageDocs(_, _),
      s"""WITH c AS (
           SELECT user_id, event_id,
             ${boundedMicroSql("grpoAdvantage")} AS v
           FROM events),
         g AS (
           SELECT user_id, event_id, v,
             count(*) OVER (PARTITION BY user_id) AS n,
             CAST(sum(v) OVER (PARTITION BY user_id) AS BIGINT) AS s
           FROM c)
         SELECT user_id AS prompt_id, event_id, v AS reward_micro,
           v * n - s AS adv_num, n AS n_candidates
         FROM g ORDER BY prompt_id, event_id"""),
    // per-group min-max normalization: non-negative operands make
    // truncating (Spark div) and flooring (DuckDB //) division agree;
    // zero-spread groups normalize to 0 by contract on both sides; the
    // quantization mirrors boundedMicro's ±2^41 loud bound (boundedMicroSql)
    Gate("reward_norm", Posttraining.rewardNormDocs(_, _),
      s"""WITH c AS (
           SELECT user_id, event_id,
             ${boundedMicroSql("rewardNorm")} AS v
           FROM events),
         g AS (
           SELECT user_id, event_id, v,
             min(v) OVER (PARTITION BY user_id) AS mn,
             max(v) OVER (PARTITION BY user_id) AS mx
           FROM c)
         SELECT user_id AS prompt_id, event_id, v AS reward_micro,
           CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
                ELSE (v - mn) * 1000000 // (mx - mn) END AS norm_micro
         FROM g ORDER BY prompt_id, event_id"""),
    // chat-history truncation: the DESC running cost is monotone, so the
    // oracle's `cum <= budget+1` cut is the same whole-turn suffix the
    // Spark in-row fold counts; zero-kept groups fingerprint ''
    Gate("chat_truncate", Posttraining.chatTruncateDocs(_, _),
      """WITH t AS (
           SELECT user_id, ts, event_id,
             event_type || ':' ||
               CAST(CAST(floor(value * 1e6) AS BIGINT) AS VARCHAR) AS s
           FROM events),
         r AS (
           SELECT user_id, ts, event_id, s,
             CAST(sum(length(s) + 1) OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
           FROM t),
         k AS (SELECT user_id, ts, event_id, s FROM r WHERE cum <= 201),
         a AS (
           SELECT user_id, count(*) AS nk,
             string_agg(s, '|' ORDER BY ts, event_id) AS transcript
           FROM k GROUP BY user_id),
         tot AS (
           SELECT user_id, CAST(count(*) AS BIGINT) AS n_turns
           FROM t GROUP BY user_id)
         SELECT tot.user_id, n_turns,
           CAST(coalesce(a.nk, 0) AS BIGINT) AS n_kept,
           CAST(length(coalesce(a.transcript, '')) AS BIGINT) AS kept_chars,
           md5(coalesce(a.transcript, '')) AS fp_kept
         FROM tot LEFT JOIN a ON tot.user_id = a.user_id
         ORDER BY tot.user_id""", cachedIntermediate = true),
    // the UPDATE-mode streaming spelling of the same transform must land
    // the identical pair set — one oracle string, zero drift possible
    Gate("stream_dpo", streaming.StreamQueries.dpoEvents(_, _), dpoPairsOracle),
    // the UPDATE-mode streaming spelling of the same selection must land
    // the identical set — one oracle string, zero drift possible
    Gate("stream_best_of_n", streaming.StreamQueries.bestOfNEvents(_, _), bestOfNOracle),
    // the composed post-training pipeline: assembly, fp-dedup, shape
    // admission and pairing restated as one CTE chain over the same
    // micro-exact arithmetic
    Gate("posttrain_curate", Posttraining.posttrainCurateDocs(_, _),
      """WITH t AS (
           SELECT user_id, ts, event_id,
             event_type || ':' ||
               CAST(CAST(floor(value * 1e6) AS BIGINT) AS VARCHAR) AS s
           FROM events),
         a AS (
           SELECT user_id, CAST(count(*) AS BIGINT) AS n_turns,
             md5(string_agg(s, '|' ORDER BY ts, event_id)) AS fp
           FROM t GROUP BY user_id),
         surv AS (
           SELECT min(user_id) AS user_id FROM a
           WHERE n_turns >= 3 GROUP BY fp),
         c AS (
           SELECT e.user_id, e.event_id,
             CAST(floor(e.value * 1e6) AS BIGINT) AS v
           FROM events e JOIN surv ON e.user_id = surv.user_id),
         r AS (
           SELECT user_id, event_id, v,
             row_number() OVER (PARTITION BY user_id
               ORDER BY v DESC, event_id DESC) AS rb,
             row_number() OVER (PARTITION BY user_id
               ORDER BY v ASC, event_id ASC) AS rw,
             count(*) OVER (PARTITION BY user_id) AS n
           FROM c)
         SELECT b.user_id AS prompt_id, b.event_id AS chosen_id,
           w.event_id AS rejected_id, b.v AS chosen_micro,
           w.v AS rejected_micro, b.v - w.v AS margin_micro,
           b.n AS n_candidates
         FROM (SELECT * FROM r WHERE rb = 1) b
         JOIN (SELECT * FROM r WHERE rw = 1) w ON b.user_id = w.user_id
         WHERE b.v > w.v
         ORDER BY prompt_id""", cachedIntermediate = true),
    // pass@k (Chen et al. 2021): both binomials cancel to products of k
    // consecutive non-negative longs — exact integer division; n < k
    // groups report the degenerate any-pass verdict (and dodge the zero
    // denominator DuckDB raises on)
    Gate("pass_at_k", Posttraining.passAtKDocs(_, _),
      """WITH c0 AS (
           SELECT user_id, CAST(floor(value * 1e6) AS BIGINT) AS v
           FROM events),
         g AS (
           SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN v >= 100000000 THEN 1 ELSE 0 END)
               AS BIGINT) AS c
           FROM c0 GROUP BY user_id)
         SELECT user_id AS prompt_id, n, c,
           c * 1000000 // n AS pass1_micro,
           CAST(CASE WHEN n < 4
             THEN CASE WHEN c > 0 THEN 1000000 ELSE 0 END
             ELSE 1000000 -
               ((n-c) * (n-c-1) * (n-c-2) * (n-c-3) * 1000000)
                 // (n * (n-1) * (n-2) * (n-3))
           END AS BIGINT) AS passk_micro
         FROM g ORDER BY prompt_id"""),
    // best-of-n rejection sampling: per-prompt argmax (ties to the larger
    // event_id, the max(struct) tiebreak) gated on the ABSOLUTE threshold
    Gate("best_of_n", Posttraining.bestOfNDocs(_, _), bestOfNOracle),
    // Bradley-Terry generator ranking: per-prompt argmax beats every
    // other candidate's generator; Hunter's MM iterations unrolled as
    // CTEs over the T² rate table in the identical non-negative integer
    // arithmetic (Scala / ≡ DuckDB // on non-negatives)
    Gate("bt_scores", Posttraining.btScoresDocs(_, _), btScoresOracle),
    // kNN majority vote: queries (vec_id < 10) against the labeled pool
    // (vec_id >= 10); same rounded-cosine ranking as ann_topk, majority
    // label with smaller-label tiebreak
    Gate("knn_classify", Similarity.knnClassifyDocs(_, _),
      """WITH base AS (
           SELECT vec_id, label, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
           FROM embeddings),
         scored AS (
           SELECT q.vec_id AS q_id, c.vec_id, c.label,
             round(list_sum(list_transform(generate_series(1, 64),
                 d -> CAST(c.embedding[d] AS DOUBLE) * CAST(q.embedding[d] AS DOUBLE)))
               / (c.norm * q.norm), 4) AS cos
           FROM base q JOIN base c ON q.vec_id < 10 AND c.vec_id >= 10),
         ranked AS (
           SELECT q_id, label,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos DESC, vec_id) AS rk
           FROM scored),
         votes AS (
           SELECT q_id, label, count(*) AS n_votes
           FROM ranked WHERE rk <= 10 GROUP BY q_id, label),
         best AS (
           SELECT q_id, label, n_votes,
             row_number() OVER (PARTITION BY q_id
               ORDER BY n_votes DESC, label) AS vr
           FROM votes)
         SELECT q_id, label AS pred_label, n_votes
         FROM best WHERE vr = 1 ORDER BY q_id"""),
    // IVF-probed kNN labeling: the ann_ivf CTE chain (seed centroids =
    // first 16 vectors, argmax-cosine cells with larger-id ties, top-4
    // probe lists) restricted to the labeled pool, then the
    // knn_classify vote over the probed candidates
    Gate("knn_classify_ivf", Similarity.knnClassifyIvfDocs(_, _),
      """WITH base AS (
           SELECT vec_id, label, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
           FROM embeddings),
         cents AS (
           SELECT vec_id AS c_id, embedding AS c_emb, norm AS c_norm
           FROM base WHERE vec_id < 16),
         scores AS (
           SELECT b.vec_id, c.c_id,
             list_sum(list_transform(generate_series(1, 64),
               d -> CAST(b.embedding[d] AS DOUBLE) * CAST(c.c_emb[d] AS DOUBLE)))
               / (b.norm * c.c_norm) AS ccos
           FROM base b CROSS JOIN cents c),
         assigned AS (
           SELECT vec_id, c_id AS cell FROM (
             SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY ccos DESC, c_id DESC) AS rn
             FROM scores) WHERE rn = 1),
         probes AS (
           SELECT vec_id AS q_id, c_id AS probe_cell FROM (
             SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY ccos DESC, c_id DESC) AS rn
             FROM scores) WHERE rn <= 4 AND vec_id < 10),
         cand AS (
           SELECT p.q_id, a.vec_id
           FROM probes p JOIN assigned a ON a.cell = p.probe_cell
           WHERE a.vec_id >= 10),
         scored AS (
           SELECT c.q_id, c.vec_id, bc.label,
             round(list_sum(list_transform(generate_series(1, 64),
               d -> CAST(bc.embedding[d] AS DOUBLE) * CAST(bq.embedding[d] AS DOUBLE)))
               / (bc.norm * bq.norm), 4) AS cos
           FROM cand c
           JOIN base bc ON bc.vec_id = c.vec_id
           JOIN base bq ON bq.vec_id = c.q_id),
         ranked AS (
           SELECT q_id, label,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos DESC, vec_id) AS rk
           FROM scored),
         votes AS (
           SELECT q_id, label, count(*) AS n_votes
           FROM ranked WHERE rk <= 10 GROUP BY q_id, label),
         best AS (
           SELECT q_id, label, n_votes,
             row_number() OVER (PARTITION BY q_id
               ORDER BY n_votes DESC, label) AS vr
           FROM votes)
         SELECT q_id, label AS pred_label, n_votes
         FROM best WHERE vr = 1 ORDER BY q_id"""),
    // class centroids: floor-quantized micro sums (binary floor — never
    // round(), whose decimal half-up can diverge across engines); the
    // 64-long sum vector gates as an md5 digest of its comma-join
    Gate("label_centroids", Clustering.labelCentroidsDocs(_, _),
      """WITH e AS (
           SELECT label, d,
             CAST(floor(CAST(embedding[d] AS DOUBLE) * 1e6) AS BIGINT)
               AS micro
           FROM embeddings,
                UNNEST(generate_series(1, len(embedding))) AS t(d)),
         g AS (SELECT label, d, CAST(sum(micro) AS BIGINT) AS s,
                 count(*) AS n
               FROM e GROUP BY 1, 2)
         SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
           CAST(min(CASE WHEN d = 1 THEN s END) AS BIGINT) AS s0_micro,
           md5(string_agg(CAST(s AS VARCHAR), ',' ORDER BY d))
             AS centroid_digest
         FROM g GROUP BY label ORDER BY label"""),
    // centroid drift between the vec_id-parity slices, cross-multiplied
    // (|so·nn − sn·no|) so no signed integer division is ever taken —
    // Spark div truncates, DuckDB // floors, products agree exactly
    Gate("embed_drift", Clustering.embedDriftDocs(_, _),
      """WITH e AS (
           SELECT label, vec_id % 2 = 0 AS is_old, d,
             CAST(floor(CAST(embedding[d] AS DOUBLE) * 1e6) AS BIGINT)
               AS micro
           FROM embeddings,
                UNNEST(generate_series(1, len(embedding))) AS t(d)),
         g AS (SELECT label, d,
             CAST(coalesce(sum(CASE WHEN is_old THEN micro END), 0)
               AS BIGINT) AS so,
             CAST(count(CASE WHEN is_old THEN 1 END) AS BIGINT) AS no,
             CAST(coalesce(sum(CASE WHEN NOT is_old THEN micro END), 0)
               AS BIGINT) AS sn,
             CAST(count(CASE WHEN NOT is_old THEN 1 END) AS BIGINT) AS nn
           FROM e GROUP BY 1, 2)
         SELECT label, min(no) AS n_old, min(nn) AS n_new,
           CAST(sum(abs(so * nn - sn * no)) AS BIGINT) AS l1_scaled
         FROM g GROUP BY label ORDER BY label"""),
    // capacity-balanced assignment: top-2 centroids per vector (same
    // VALUES), md5-salted per-cluster sub-windows split cap = q·64 + r,
    // overflow rows take their second-nearest centroid
    Gate("balanced_assign", Clustering.balancedAssignDocs(_, _),
      s"""WITH cents(c_id, c, c2) AS (VALUES
           ${kmeansCentroidValues()}),
         scored AS (
           SELECT e.vec_id, c.c_id,
             c.c2 - 2 * list_sum(list_transform(generate_series(1, 64),
                 d -> CAST(e.embedding[d] AS DOUBLE) * c.c[d])) AS d
           FROM embeddings e CROSS JOIN cents c),
         top2 AS (
           SELECT vec_id, c_id, d,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, c_id) AS rn
           FROM scored),
         a AS (
           SELECT vec_id,
             max(CASE WHEN rn = 1 THEN c_id END) AS c1,
             max(CASE WHEN rn = 1 THEN d END) AS d1,
             max(CASE WHEN rn = 2 THEN c_id END) AS c2
           FROM top2 WHERE rn <= 2 GROUP BY vec_id),
         s AS (
           SELECT *, ('0x' || substr(md5('bal:' || CAST(vec_id AS VARCHAR)),
             1, 15))::BIGINT % ${operators.Clustering.BalancedSaltBuckets}
             AS salt
           FROM a),
         caps AS (SELECT (count(*) + 15) // 16 AS cap FROM embeddings),
         r AS (
           SELECT s.*, cap,
             cap // ${operators.Clustering.BalancedSaltBuckets}
               + (CASE WHEN salt <
                   cap % ${operators.Clustering.BalancedSaltBuckets}
                 THEN 1 ELSE 0 END) AS cap_local,
             row_number() OVER (PARTITION BY c1, salt
               ORDER BY d1, vec_id) AS rk
           FROM s, caps)
         SELECT vec_id,
           CAST(CASE WHEN rk > cap_local THEN c2 ELSE c1 END AS INT)
             AS cluster,
           rk > cap_local AS moved
         FROM r ORDER BY vec_id"""),
    Gate("kcenter_coreset", Clustering.kCenterCoresetDocs(_, _), kCenterOracleSql),
    // --- training-data pipeline: text analysis
    Gate("text_stats", TextAnalysis.textStats(_, _),
      """SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS n_distinct_tokens,
         len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_subwords,
         length(text) AS n_chars_measured,
         length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
         FROM documents ORDER BY doc_id"""),
    Gate("text_quality", TextAnalysis.qualityScore(_, _), s"$qualityOracleBody ORDER BY doc_id"),
    Gate("text_langid", TextAnalysis.langId(_, _),
      """WITH scored AS (
           SELECT doc_id,
             len(list_filter(w, t -> t IN ('the','and','of','to','in','is','a'))) AS s_en,
             len(list_filter(w, t -> t IN ('le','la','les','des','et','une'))) AS s_fr,
             len(list_filter(w, t -> t IN ('el','los','las','que','y','una'))) AS s_es,
             len(list_filter(w, t -> t IN ('der','die','das','und','ein','nicht'))) AS s_de,
             len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh
           FROM (SELECT doc_id, text,
                        regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents))
         SELECT doc_id,
           CASE WHEN greatest(s_en,s_fr,s_es,s_de,s_zh) = 0 THEN 'und'
                WHEN s_de = greatest(s_en,s_fr,s_es,s_de,s_zh) THEN 'de'
                WHEN s_en = greatest(s_en,s_fr,s_es,s_de,s_zh) THEN 'en'
                WHEN s_es = greatest(s_en,s_fr,s_es,s_de,s_zh) THEN 'es'
                WHEN s_fr = greatest(s_en,s_fr,s_es,s_de,s_zh) THEN 'fr'
                ELSE 'zh' END AS lang_pred, s_en, s_zh
         FROM scored ORDER BY doc_id"""),
    Gate("text_fingerprint", TextAnalysis.fingerprint(_, _),
      s"""SELECT doc_id,
         ${duckMd5_60("text")} AS fp,
         ${duckMd5_60("array_to_string(list_sort(regexp_split_to_array(trim(text), '\\s+')), ' ')")} AS bag_fp
         FROM documents ORDER BY doc_id"""),
    // winnow: same degree-4 polynomial gram hash (base 257 mod 1e9+7) over
    // code points, same least-of-4 window minimum, same distinct
    Gate("text_winnow", TextAnalysis.winnowDocs(_, _),
      """WITH cs AS (
           SELECT doc_id, list_transform(generate_series(1, length(text)),
             i -> CAST(ord(substr(text, i, 1)) AS BIGINT)) AS cs
           FROM documents WHERE length(text) >= 8),
         g AS (
           SELECT doc_id, list_transform(generate_series(1, len(cs) - 4),
             i -> (cs[i] * 4362470401 + cs[i+1] * 16974593 + cs[i+2] * 66049
                   + cs[i+3] * 257 + cs[i+4]) % 1000000007) AS grams
           FROM cs)
         SELECT DISTINCT doc_id, list_min(grams[j:j+3]) AS fp
         FROM g, UNNEST(generate_series(1, len(grams) - 3)) t(j)
         ORDER BY doc_id, fp"""),
    Gate("text_repetition", TextAnalysis.repetition(_, _),
      """WITH w AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
         bg AS (
           SELECT doc_id, w[i] || ' ' || w[i+1] AS b
           FROM w, UNNEST(generate_series(1, len(w) - 1)) t(i)
           WHERE len(w) >= 2),
         bgc AS (
           SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bg,
                  count(*) AS n_dbg, CAST(max(cnt) AS BIGINT) AS top
           FROM (SELECT doc_id, b, count(*) AS cnt FROM bg GROUP BY 1, 2)
           GROUP BY doc_id)
         SELECT w.doc_id, len(w.w) AS n_words,
           round(1.0 - CAST(len(list_distinct(w.w)) AS DOUBLE) / len(w.w), 4)
             AS dup_word_frac,
           round(1.0 - CAST(n_dbg AS DOUBLE) / n_bg, 4) AS dup_bigram_frac,
           top AS top_bigram_n
         FROM w JOIN bgc ON w.doc_id = bgc.doc_id
         WHERE len(w.w) >= 2
         ORDER BY w.doc_id"""),
    Gate("text_pii_redact", TextAnalysis.piiRedactDocs(_, _),
      s"""WITH p AS (
           SELECT doc_id,
             CASE CAST(doc_id % 3 AS INT)
               WHEN 0 THEN 'reach user' || CAST(doc_id AS VARCHAR) || '@' || source
                 || '.example.com or 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                 || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 || ' re: ' || text
               WHEN 1 THEN 'server 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                 || '.7 logged: ' || text
               ELSE text END AS pii_text
           FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(pii_text, '${operators.TextAnalysis.EmailRe}')) AS n_emails,
           len(regexp_extract_all(pii_text, '${operators.TextAnalysis.PhoneRe}')) AS n_phones,
           len(regexp_extract_all(pii_text, '${operators.TextAnalysis.Ipv4Re}')) AS n_ips,
           ${duckMd5_60(
             s"""regexp_replace(regexp_replace(regexp_replace(pii_text,
                '${operators.TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
                '${operators.TextAnalysis.PhoneRe}', '<PHONE>', 'g'),
                '${operators.TextAnalysis.Ipv4Re}', '<IP>', 'g')""")} AS red_fp
         FROM p ORDER BY doc_id"""),
    Gate("ngram_lm", (s, d) => TextAnalysis.ngramLm(s, d),
      """WITH toks AS (
           SELECT lang, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
         bg AS (
           SELECT lang, w[i] AS w1, w[i + 1] AS w2
           FROM toks, UNNEST(generate_series(1, len(w) - 1)) t(i)
           WHERE len(w) >= 2),
         c AS (SELECT lang, w1, w2, count(*) AS n FROM bg GROUP BY 1, 2, 3),
         p AS (
           SELECT lang, w1, w2, n,
             CAST(sum(n) OVER (PARTITION BY lang, w1) AS BIGINT) AS n_prefix,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, w1, w2) AS rk
           FROM c)
         SELECT lang, rk, w1, w2, n, n_prefix FROM p
         WHERE rk <= 20 ORDER BY lang, rk"""),
    Gate("doc_chunks", TextAnalysis.docChunksDocs(_, _),
      s"""WITH t AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
           FROM documents),
         n AS (SELECT doc_id, w, len(w) AS nw FROM t),
         c AS (
           SELECT doc_id, CAST(i AS INT) AS chunk_idx,
             array_to_string(w[i * ${TextAnalysis.ChunkStride} + 1 : i * ${TextAnalysis.ChunkStride} + ${TextAnalysis.ChunkTokens}], ' ') AS chunk
           FROM n, UNNEST(generate_series(0,
             CASE WHEN nw <= ${TextAnalysis.ChunkTokens} THEN 0
                  ELSE (${TextAnalysis.ChunkStride - 1} + nw - ${TextAnalysis.ChunkTokens}) // ${TextAnalysis.ChunkStride} END)) t2(i))
         SELECT doc_id, chunk_idx,
           len(regexp_split_to_array(chunk, '\\s+')) AS n_chunk_tokens,
           ${duckMd5_60("chunk")} AS chunk_fp
         FROM c ORDER BY doc_id, chunk_idx"""),
    Gate("vocab_coverage", TextAnalysis.vocabCoverageDocs(_, _),
      s"""WITH tok AS (
           SELECT UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS token
           FROM documents),
         c AS (
           SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok
           WHERE token != '' GROUP BY token),
         r AS (
           SELECT token, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) AS rk,
             CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
               ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum
           FROM c)
         SELECT rk, token, cnt,
           round(cum / (SELECT CAST(sum(cnt) AS DOUBLE) FROM c), 6) AS cum_share
         FROM r WHERE rk <= ${TextAnalysis.VocabK} ORDER BY rk"""),
    Gate("filter_cascade", TextAnalysis.filterCascade(_, _),
      s"""WITH r AS (
           SELECT doc_id, len(w) AS n_tok,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS ar,
             CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dr
           FROM (SELECT doc_id, text,
                        regexp_split_to_array(trim(text), '\\s+') AS w
                 FROM documents))
         SELECT doc_id, CAST(n_tok AS INT) AS n_tok,
           round(ar, 4) AS alpha_ratio, round(dr, 4) AS distinct_ratio,
           CASE WHEN n_tok < ${TextAnalysis.CascadeMinTokens} THEN 'too_short'
                WHEN ar < ${TextAnalysis.CascadeMinAlpha} THEN 'low_alpha'
                WHEN dr < ${TextAnalysis.CascadeMinDistinct} THEN 'high_dup'
                ELSE 'keep' END AS verdict
         FROM r ORDER BY doc_id"""),
    Gate("text_normalize", TextAnalysis.normFingerprint(_, _),
      s"""WITH n AS (
           SELECT doc_id,
             trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g')) AS norm
           FROM documents)
         SELECT doc_id, CAST(length(norm) AS INT) AS n_norm_chars,
           ${duckMd5_60("norm")} AS norm_fp
         FROM n ORDER BY doc_id"""),
    // novelty over shingle STRINGS — also re-checks the Spark side's
    // hash-for-string substitution
    Gate("text_novelty", TextAnalysis.noveltyDocs(_, _),
      s"""WITH sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                 FROM documents),
                UNNEST(generate_series(1, len(w) - 2)) AS t(i)
           WHERE len(w) >= 3),
         dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
         SELECT s.doc_id, count(*) AS n_shingles,
           CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           round(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) * 1.0 / count(*),
             6) AS novelty
         FROM sh s JOIN dfreq d ON d.shingle = s.shingle
         GROUP BY s.doc_id ORDER BY s.doc_id"""),
    // fixed-point micro-nat terms (round 6 → ×1e6 → BIGINT) make the
    // per-doc float sum an exact integer sum — same trick as q25's
    // per-term rounding, so the gate is order-independent
    Gate("doc_perplexity", TextAnalysis.docPerplexityDocs(_, _),
      """WITH toks AS (
           SELECT doc_id, w[i] AS token
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents),
                UNNEST(generate_series(1, len(w))) AS t(i)
           WHERE len(w[i]) > 0),
         tf AS (SELECT doc_id, token, count(*) AS tf
                FROM toks GROUP BY 1, 2),
         cnt AS (SELECT token, count(*) AS c FROM toks GROUP BY 1),
         tot AS (SELECT CAST(sum(c) + count(*) AS DOUBLE) AS nv FROM cnt),
         terms AS (
           SELECT tf.doc_id, tf.tf,
             CAST(round(round(tf.tf * ln(tot.nv / (cnt.c + 1.0)), 6) * 1e6)
               AS BIGINT) AS term_micro
           FROM tf JOIN cnt USING (token) CROSS JOIN tot)
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(sum(term_micro) AS BIGINT) AS xent_micro,
           round(exp(sum(term_micro) / (1e6 * sum(tf))), 3) AS ppl
         FROM terms GROUP BY doc_id ORDER BY doc_id"""),
    // one BPE training iteration: adjacent char pairs weighted by word
    // frequency; (cnt DESC, a, b) is a total order — all integers
    Gate("bpe_pairs", TextAnalysis.bpePairCountsDocs(_, _),
      s"""WITH words AS (
           SELECT w[i] AS word, count(*) AS c
           FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS w
                 FROM documents),
                UNNEST(generate_series(1, len(w))) AS t(i)
           WHERE length(w[i]) >= 2
           GROUP BY 1),
         pairs AS (
           SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b,
             CAST(sum(c) AS BIGINT) AS cnt
           FROM words, UNNEST(generate_series(1, length(word) - 1)) AS t(i)
           GROUP BY 1, 2),
         ranked AS (
           SELECT a, b, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, a, b) AS INT) AS rk
           FROM pairs)
         SELECT rk, a, b, cnt FROM ranked
         WHERE rk <= ${TextAnalysis.BpePairK} ORDER BY rk"""),
    Gate("bpe_encode", TextAnalysis.bpeEncodeDocs(_, _), bpeEncodeOracleSql),
    Gate("bpe_fertility", TextAnalysis.bpeFertilityDocs(_, _), bpeFertilityOracleSql),
    Gate("unigram_encode", TextAnalysis.unigramEncodeDocs(_, _), unigramEncodeOracleSql),
    Gate("wordpiece_encode", TextAnalysis.wordpieceEncodeDocs(_, _), wordpieceEncodeOracleSql),
    // the bake-off table: the three family oracles composed as CTEs —
    // each family's chain is the SAME string its own gate uses
    Gate("tok_compare", TextAnalysis.tokenizerCompareDocs(_, _),
      s"""WITH b AS ($bpeEncodeOracleSql),
         u AS ($unigramEncodeOracleSql),
         w AS ($wordpieceEncodeOracleSql)
         SELECT b.doc_id, b.n_words, b.n_bpe_tokens,
           u.n_pieces AS n_unigram, w.n_pieces AS n_wordpiece,
           CAST(b.n_bpe_tokens * 1000000 // b.n_words AS BIGINT)
             AS bpe_fert_micro,
           CAST(u.n_pieces * 1000000 // b.n_words AS BIGINT)
             AS unigram_fert_micro,
           CAST(w.n_pieces * 1000000 // b.n_words AS BIGINT)
             AS wordpiece_fert_micro
         FROM b JOIN u ON u.doc_id = b.doc_id
         JOIN w ON w.doc_id = b.doc_id
         ORDER BY b.doc_id"""),
    // FIM: selection gate and both character cut points all md5-derived,
    // so the oracle replays the transform character for character
    Gate("fim_transform", TextAnalysis.fimTransformDocs(_, _),
      s"""WITH h AS (
           SELECT doc_id, text, length(text) AS n,
             ${duckMd5_60("'fim1:' || CAST(doc_id AS VARCHAR)")}
               % greatest(length(text), 1) AS h1,
             ${duckMd5_60("'fim2:' || CAST(doc_id AS VARCHAR)")}
               % greatest(length(text), 1) AS h2,
             ${duckMd5_60("'fim:' || CAST(doc_id AS VARCHAR)")}
               % 1000000 AS g
           FROM documents),
         c AS (
           SELECT doc_id, text, n, g,
             CAST(least(h1, h2) + 1 AS INT) AS c1,
             CAST(greatest(h1, h2) + 1 AS INT) AS c2
           FROM h)
         SELECT doc_id,
           CASE WHEN g < 500000 THEN 1 ELSE 0 END AS transformed,
           CASE WHEN g < 500000
             THEN '<PRE>' || substr(text, 1, c1 - 1)
               || '<SUF>' || substr(text, c2, n - c2 + 1)
               || '<MID>' || substr(text, c1, c2 - c1)
             ELSE text END AS fim_text
         FROM c ORDER BY doc_id"""),
    // T5 span corruption: the oracle's gaps-and-islands windows are a
    // structurally different spelling of the engine's in-row fold — the
    // gate cross-checks two independent formulations of the policy
    Gate("t5_spans", TextAnalysis.t5SpansDocs(_, _),
      s"""WITH w AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
           FROM documents),
         t AS (
           SELECT doc_id, i, w[i] AS tok,
             ${duckMd5_60("'t5:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")}
               % 1000000 < 150000 AS noisy
           FROM w, UNNEST(generate_series(1, len(w))) AS s(i)),
         r AS (
           SELECT *, CASE WHEN noisy AND NOT coalesce(
               lag(noisy) OVER (PARTITION BY doc_id ORDER BY i), false)
             THEN 1 ELSE 0 END AS span_start
           FROM t),
         s AS (
           SELECT *, sum(span_start) OVER (PARTITION BY doc_id ORDER BY i)
             AS span_id
           FROM r),
         inp AS (
           SELECT doc_id, string_agg(
               CASE WHEN NOT noisy THEN tok
                    ELSE '<extra_id_' || CAST(span_id - 1 AS VARCHAR) || '>'
               END, ' ' ORDER BY i) AS input_text
           FROM s WHERE NOT noisy OR span_start = 1 GROUP BY doc_id),
         tgt AS (
           SELECT doc_id, string_agg(
               CASE WHEN span_start = 1
                 THEN '<extra_id_' || CAST(span_id - 1 AS VARCHAR) || '> ' || tok
                 ELSE tok END, ' ' ORDER BY i) AS tgt_body
           FROM s WHERE noisy GROUP BY doc_id),
         ns AS (
           SELECT doc_id, CAST(coalesce(max(span_id), 0) AS INT) AS n_spans
           FROM s GROUP BY doc_id)
         SELECT w.doc_id, ns.n_spans,
           coalesce(i.input_text, '') AS input_text,
           CASE WHEN t.tgt_body IS NULL
             THEN '<extra_id_' || CAST(ns.n_spans AS VARCHAR) || '>'
             ELSE t.tgt_body || ' <extra_id_'
               || CAST(ns.n_spans AS VARCHAR) || '>' END AS target_text
         FROM w
         JOIN ns ON ns.doc_id = w.doc_id
         LEFT JOIN inp i ON i.doc_id = w.doc_id
         LEFT JOIN tgt t ON t.doc_id = w.doc_id
         ORDER BY w.doc_id"""),
    // --- sentence-aware family (synthesized punctuation, see Sentences)
    Gate("sent_segment", operators.Sentences.segmentDocs(_, _),
      s"""WITH $sentenceCtes
         SELECT doc_id, sent_id, sentence, n_tokens FROM sents
         ORDER BY doc_id, sent_id"""),
    // first occurrence keeps; the oracle's window spelling cross-checks
    // the engine's aggregate-then-join spelling of the same policy
    Gate("sent_dedup", operators.Sentences.dedupDocs(_, _),
      s"""WITH $sentenceCtes,
         normed AS (
           SELECT doc_id, sent_id, n_tokens,
             lower(regexp_replace(sentence, '[.!?]+$$', '')) AS norm
           FROM sents)
         SELECT doc_id, sent_id, n_tokens,
           CASE WHEN row_number() OVER (PARTITION BY norm
               ORDER BY doc_id, sent_id) = 1 THEN 1 ELSE 0 END AS keep
         FROM normed ORDER BY doc_id, sent_id""", cachedIntermediate = true),
    // start-offset bucketing: chunk = tokens-before div budget, so the
    // chunk rule is one running sum in both engines; digest rebuilt from
    // sent_id-ordered sentences
    Gate("sent_chunks", operators.Sentences.chunksDocs(_, _),
      s"""WITH $sentenceCtes,
         cum AS (
           SELECT doc_id, sent_id, sentence, n_tokens,
             coalesce(sum(n_tokens) OVER (PARTITION BY doc_id
               ORDER BY sent_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
           FROM sents)
         SELECT doc_id,
           CAST(cb // ${operators.Sentences.ChunkBudget} AS BIGINT)
             AS chunk_id,
           count(*) AS n_sents, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           ${duckMd5_60("string_agg(sentence, ' ' ORDER BY sent_id)")}
             AS chunk_md5_60
         FROM cum GROUP BY doc_id, chunk_id ORDER BY doc_id, chunk_id""", cachedIntermediate = true),
    Gate("lang_balance",
      (s, d) =>
        operators.Sampling.langBalance(graft.Engine.Tables(s, d).documents),
      s"""WITH d AS (
           SELECT doc_id, lang,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS tok
           FROM documents),
         lt AS (SELECT lang, sum(tok) AS lang_tok FROM d GROUP BY lang),
         f AS (SELECT lang,
                 least(1.0, sum(lang_tok) OVER () / count(*) OVER ()
                            / lang_tok) AS frac
               FROM lt)
         SELECT d.doc_id, d.lang
         FROM d JOIN f ON d.lang IS NOT DISTINCT FROM f.lang
         WHERE ${duckMd5_60("'bal:' || CAST(d.doc_id AS VARCHAR)")} % 1000000
               < CAST(floor(1000000.0 * frac) AS BIGINT)
         ORDER BY d.doc_id"""),
    Gate("quality_ntile",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        operators.Ranking.distributedNtile(
          TextAnalysis.qualityScore(s, d), "quality", "doc_id", 10)
          .select(col("doc_id"), col("quality"), col("rank"), col("bin"))
          .orderBy(col("doc_id"))
      },
      s"""WITH q AS ($qualityOracleBody)
         SELECT doc_id, quality,
           row_number() OVER (ORDER BY quality, doc_id) AS rank,
           ntile(10) OVER (ORDER BY quality, doc_id) AS bin
         FROM q ORDER BY doc_id"""),
    // cross-split near-dup leakage audit: the dedup_jaccard pair set with
    // both sides' split labels derived in-row (zero extra joins/shuffles)
    // cross-split leakage: the pair set is the EXACT prefix screen's
    // (dedup_prefix's uncapped oracle — the audit reads the landed pair
    // table it shares with split_leak_stats), each side's split derived from its
    // own id by the split_assign md5 CASE — pairs whose splits differ
    // are the contamination work-list
    Gate("split_leak_audit",
      (s, d) => {
        operators.Dedup.splitLeakAudit(
          graft.Engine.Tables(s, d).documents, SplitWeights, SplitNames)
      },
      s"""WITH pairs AS ($uncappedJaccardPairsOracle)
         SELECT doc_a, doc_b,
           ${splitCaseOnSql("doc_a")} AS split_a,
           ${splitCaseOnSql("doc_b")} AS split_b,
           jac
         FROM pairs
         WHERE ${splitCaseOnSql("doc_a")} <> ${splitCaseOnSql("doc_b")}
         ORDER BY doc_a, doc_b""", cachedIntermediate = true),
    // the two-keyings leakage rollup over the same uncapped pair set:
    // doc-keyed labels vs source-grouped labels, counted per keying
    Gate("split_leak_stats",
      (s, d) => {
        operators.Dedup.splitLeakStats(
          graft.Engine.Tables(s, d).documents, SplitWeights, SplitNames)
      },
      s"""WITH pairs AS ($uncappedJaccardPairsOracle),
         ps AS (
           SELECT p.doc_a, p.doc_b, da.source AS src_a, db.source AS src_b
           FROM pairs p
           JOIN documents da ON da.doc_id = p.doc_a
           JOIN documents db ON db.doc_id = p.doc_b),
         labeled AS (
           SELECT 'doc' AS keying,
             ${splitCaseOnSql("doc_a")} AS split_a,
             ${splitCaseOnSql("doc_b")} AS split_b
           FROM ps
           UNION ALL
           SELECT 'source',
             ${splitCaseOnSql("src_a", "gsplit:")},
             ${splitCaseOnSql("src_b", "gsplit:")}
           FROM ps)
         SELECT keying, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END)
             AS BIGINT) AS n_leaked,
           CAST(sum(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END)
             * 1000000 // count(*) AS BIGINT) AS leak_micro
         FROM labeled GROUP BY keying ORDER BY keying""", cachedIntermediate = true),
    Gate("split_assign",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        operators.Sampling.splitAssign(
            graft.Engine.Tables(s, d).documents.select("doc_id"),
            "doc_id", SplitWeights, SplitNames)
          .select(col("doc_id"), col("split")).orderBy(col("doc_id"))
      },
      splitAssignOracleSql),
    // leakage-safe GROUPED split: keyed on source, so every doc of a
    // source (where near-dups concentrate) lands in the same split
    Gate("group_split",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        operators.Sampling.splitAssign(
            graft.Engine.Tables(s, d).documents.select("doc_id", "source"),
            "source", SplitWeights, SplitNames, salt = "gsplit:")
          .select(col("doc_id"), col("source"), col("split"))
          .orderBy(col("doc_id"))
      },
      groupSplitOracleSql),
    // curriculum order: quality-decile phases descending, hash-shuffled
    // within each phase, exact global rank with no corpus-wide window
    // same ntile bins as quality_ntile, then the curriculum rank: bins
    // descending, md5-shuffled inside each bin
    Gate("curriculum_order",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val binned = operators.Ranking.distributedNtile(
          TextAnalysis.qualityScore(s, d), "quality", "doc_id", 10)
          .select(col("doc_id"), col("bin"))
        operators.Ranking.curriculumOrder(binned, "bin", "doc_id")
          .select(col("doc_id"), col("bin"), col("train_rank"))
          .orderBy(col("doc_id"))
      },
      s"""WITH q AS ($qualityOracleBody),
         b AS (SELECT doc_id,
                 ntile(10) OVER (ORDER BY quality, doc_id) AS bin
               FROM q)
         SELECT doc_id, bin,
           row_number() OVER (ORDER BY bin DESC,
             md5('curr42:' || CAST(doc_id AS VARCHAR)), doc_id)
             AS train_rank
         FROM b ORDER BY doc_id"""),
    // DSIR importance weights: target LM = the src0 slice, raw LM = the
    // full corpus; micro-nat integer sums → engine-exact
    // DSIR: same token/micro-nat machinery as doc_perplexity but with
    // floor-quantized terms (floor(x*1e6) is a binary floor — identical
    // in both engines even at exact decimal halves); the target LM is
    // the src0 slice (conditional sum in the same groupBy), the
    // smoothing normalizer is one scalar subselect
    Gate("dsir_weights",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        operators.Sampling.dsirWeights(
          graft.Engine.Tables(s, d).documents, col("source") === "src0")
      },
      """WITH toks AS (
           SELECT doc_id, source = 'src0' AS is_t, w[i] AS token
           FROM (SELECT doc_id, source,
                   regexp_split_to_array(trim(text), '\s+') AS w
                 FROM documents),
                UNNEST(generate_series(1, len(w))) AS t(i)
           WHERE len(w[i]) > 0),
         tf AS (SELECT doc_id, token, count(*) AS tf
                FROM toks GROUP BY 1, 2),
         cnt AS (SELECT token, count(*) AS cr,
                   sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
                 FROM toks GROUP BY 1),
         tot AS (SELECT CAST(sum(cr) + count(*) AS DOUBLE)
                      / CAST(sum(ct) + count(*) AS DOUBLE) AS s FROM cnt),
         terms AS (
           SELECT tf.doc_id, tf.tf,
             CAST(floor(tf.tf * ln(((cnt.ct + 1.0) / (cnt.cr + 1.0))
                 * tot.s) * 1e6) AS BIGINT) AS term_micro
           FROM tf JOIN cnt USING (token) CROSS JOIN tot)
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(sum(term_micro) AS BIGINT) AS lr_micro
         FROM terms GROUP BY doc_id ORDER BY doc_id"""),
    Gate("quality_logit", QualityModel.logitScoreDocs(_, _), qualityLogitOracleSql),
    // quality-proportional soft filter: decile bin b keeps ~b/10 of its
    // docs, decided by the same md5 bucket gate as sample_det
    // bin/10 keep-fraction over the 1e6 md5 buckets. Thresholds are
    // interpolated from the SAME double arithmetic Spark runs
    // (1e6 * (bin/10.0) truncated) — naive bin*100000 would be off by
    // one for bins where bin/10.0 rounds down in binary (e.g. 7 →
    // 699999), the strat_sample interpolation precedent
    Gate("weighted_sample",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val scored = operators.Ranking.distributedNtile(
          TextAnalysis.qualityScore(s, d), "quality", "doc_id", 10)
        operators.Sampling.weightedSample(
            scored.withColumn("w", col("bin") / 10.0), "doc_id", "w")
          .select(col("doc_id"), col("bin")).orderBy(col("doc_id"))
      },
      s"""WITH q AS ($qualityOracleBody),
         nt AS (
           SELECT doc_id, ntile(10) OVER (ORDER BY quality, doc_id) AS bin
           FROM q)
         SELECT doc_id, bin FROM nt
         WHERE ${duckMd5_60("'qw:' || CAST(doc_id AS VARCHAR)")} % 1000000
               < CASE bin ${(1 to 10).map(b =>
                   s"WHEN $b THEN ${(1000000L * (b / 10.0)).toLong}")
                 .mkString(" ")} END
         ORDER BY doc_id"""),
    // --- training-data pipeline: deterministic corpus shuffle
    Gate("shuffle_train",
      (s, d) =>
        operators.Sampling.trainOrderShuffle(
          graft.Engine.Tables(s, d).documents.select("doc_id"), "doc_id"),
      """SELECT doc_id, md5('shuf42:' || CAST(doc_id AS VARCHAR)) AS skey
         FROM documents ORDER BY skey"""),
    // --- training-data pipeline: deterministic sampling
    Gate("sample_det",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        operators.Sampling.deterministicSample(
          graft.Engine.Tables(s, d).documents, "doc_id", 0.3)
          .select(col("doc_id")).orderBy(col("doc_id"))
      },
      s"""SELECT doc_id FROM documents
         WHERE ${duckMd5_60("CAST(doc_id AS VARCHAR)")} % 1000000
               < ${(1000000L * 0.3).toLong}
         ORDER BY doc_id"""),
    Gate("strat_sample",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        operators.Sampling.stratifiedSample(
          graft.Engine.Tables(s, d).documents, "lang", "doc_id",
          StratFractions, "strat:")
          .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))
      },
      s"""SELECT doc_id, lang FROM documents
         WHERE ${duckMd5_60("'strat:' || CAST(doc_id AS VARCHAR)")} % 1000000
               < $stratCaseSql
         ORDER BY doc_id"""),
    // --- training-data pipeline: per-domain capping + shard packing
    Gate("source_cap",
      (s, d) => {
        import org.apache.spark.sql.functions.col
        operators.Sampling.capPerGroup(
          graft.Engine.Tables(s, d).documents.select(col("doc_id"), col("source")),
          "source", "doc_id", 15)
          .orderBy(col("doc_id"))
      },
      """WITH r AS (
           SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         SELECT doc_id, source, rk FROM r WHERE rk <= 15 ORDER BY doc_id"""),
    // temperature mixture: sqrt-share weights floor-quantized to micro
    // ints, target tokens and admission thresholds in pure BIGINT
    // division — a double quotient + floor could cross an integer where
    // true integer division doesn't
    Gate("mix_temperature",
      (s, d) => operators.Sampling.mixTemperature(
        graft.Engine.Tables(s, d).documents, MixTempBudget),
      s"""WITH d AS (
           SELECT doc_id, source,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS tok
           FROM documents),
         s AS (SELECT source, CAST(sum(tok) AS BIGINT) AS n_s
               FROM d GROUP BY 1),
         tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM s),
         wts AS (SELECT source, n_s,
             CAST(floor(sqrt(CAST(n_s AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6)
               AS BIGINT) AS w
           FROM s, tot),
         wt AS (SELECT CAST(sum(w) AS BIGINT) AS ws FROM wts),
         rates AS (SELECT source,
             least(1000000, (1000000 * (($MixTempBudget * w) // ws)) // n_s)
               AS rate_micro
           FROM wts, wt)
         SELECT doc_id, source, tok, rate_micro
         FROM d JOIN rates USING (source)
         WHERE ${duckMd5_60("'mixt:' || CAST(doc_id AS VARCHAR)")} % 1000000
               < rate_micro
         ORDER BY doc_id"""),
    // epoch upsampling: same rate chain as mix_temperature WITHOUT the
    // clamp; full copies from integer division, the fractional copy
    // from the md5 gate, expanded with generate_series
    Gate("mix_upsample",
      (s, d) => operators.Sampling.mixUpsample(
        graft.Engine.Tables(s, d).documents, MixUpBudget),
      s"""WITH d AS (
           SELECT doc_id, source,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS tok
           FROM documents),
         s AS (SELECT source, CAST(sum(tok) AS BIGINT) AS n_s
               FROM d GROUP BY 1),
         tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM s),
         wts AS (SELECT source, n_s,
             CAST(floor(sqrt(CAST(n_s AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6)
               AS BIGINT) AS w
           FROM s, tot),
         wt AS (SELECT CAST(sum(w) AS BIGINT) AS ws FROM wts),
         rates AS (SELECT source,
             (1000000 * (($MixUpBudget * w) // ws)) // n_s AS f_micro
           FROM wts, wt),
         j AS (SELECT doc_id, d.source, tok,
             f_micro // 1000000 +
               CASE WHEN ${duckMd5_60("'ups:' || CAST(doc_id AS VARCHAR)")}
                      % 1000000 < f_micro % 1000000
                    THEN 1 ELSE 0 END AS n_copies
           FROM d JOIN rates USING (source))
         SELECT doc_id, source, CAST(c AS INT) AS copy, tok
         FROM j, UNNEST(generate_series(1, n_copies)) t(c)
         ORDER BY doc_id, copy"""),
    // length-bucketed batching: per-bucket md5-ordered token prefix sum
    // (pid is a PREFIX of skey, so the two-level order == skey order —
    // the equivalence the pack_shards gate already proves)
    Gate("length_batches",
      (s, d) =>
        Packing.lengthBatchesDocs(s, d, LengthBatchBudget),
      s"""WITH d AS (
           SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS tok,
             md5('lb:' || CAST(doc_id AS VARCHAR)) AS skey
           FROM documents),
         b AS (SELECT *,
             CASE WHEN tok < 64 THEN 0 WHEN tok < 128 THEN 1
                  WHEN tok < 256 THEN 2 ELSE 3 END AS bucket
           FROM d),
         o AS (SELECT doc_id, bucket, tok,
             coalesce(sum(tok) OVER (PARTITION BY bucket
               ORDER BY skey, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           FROM b)
         SELECT doc_id, CAST(bucket AS INT) AS bucket,
           CAST(off // $LengthBatchBudget AS BIGINT) AS batch_id, tok
         FROM o ORDER BY doc_id"""),
    Gate("pack_shards", (s, d) => Packing.packShardsDocs(s, d, PackBudget),
      s"""WITH d AS (
           SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS tok,
             md5('pack:' || CAST(doc_id AS VARCHAR)) AS skey
           FROM documents),
         c AS (
           SELECT tok,
             sum(tok) OVER (ORDER BY skey, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM d)
         SELECT CAST((cum - tok) // $PackBudget AS BIGINT) AS shard_id,
           count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens
         FROM c GROUP BY 1 ORDER BY 1"""),
    // padding-waste rollup over the SAME md5-ordered stream packed two
    // ways (naive vs length-bucketed) — per batch waste = max·n − Σ,
    // exact integer micro-rates
    Gate("pack_efficiency",
      (s, d) =>
        Packing.packEfficiencyDocs(s, d, LengthBatchBudget),
      s"""WITH d AS (
           SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS tok,
             md5('lb:' || CAST(doc_id AS VARCHAR)) AS skey
           FROM documents),
         b AS (SELECT *,
             CASE WHEN tok < 64 THEN 0 WHEN tok < 128 THEN 1
                  WHEN tok < 256 THEN 2 ELSE 3 END AS bucket
           FROM d),
         o AS (SELECT bucket, tok,
             coalesce(sum(tok) OVER (PARTITION BY bucket
               ORDER BY skey, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           FROM b),
         g1 AS (
           SELECT bucket, off // $LengthBatchBudget AS batch_id,
             count(*) AS n_docs, sum(tok) AS real_tok, max(tok) AS max_tok
           FROM o GROUP BY 1, 2),
         o2 AS (SELECT tok,
             coalesce(sum(tok) OVER (ORDER BY skey, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           FROM d),
         g2 AS (
           SELECT off // $LengthBatchBudget AS batch_id,
             count(*) AS n_docs, sum(tok) AS real_tok, max(tok) AS max_tok
           FROM o2 GROUP BY 1),
         u AS (
           SELECT 'bucketed' AS strategy, count(*) AS n_batches,
             sum(real_tok) AS tokens_real,
             sum(max_tok * n_docs - real_tok) AS tokens_padded
           FROM g1
           UNION ALL
           SELECT 'naive', count(*), sum(real_tok),
             sum(max_tok * n_docs - real_tok)
           FROM g2)
         SELECT strategy, CAST(n_batches AS BIGINT) AS n_batches,
           CAST(tokens_real AS BIGINT) AS tokens_real,
           CAST(tokens_padded AS BIGINT) AS tokens_padded,
           CAST(tokens_padded * 1000000 // (tokens_real + tokens_padded)
             AS BIGINT) AS waste_micro
         FROM u ORDER BY strategy"""),
    // same deterministic layout as pack_shards; docs split across fixed
    // seqLen boundaries, one row per (sequence, doc) span
    Gate("pack_sequences", (s, d) => Packing.packSequencesDocs(s, d, SeqLen),
      s"""WITH d AS (
           SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS tok,
             md5('pack:' || CAST(doc_id AS VARCHAR)) AS skey
           FROM documents),
         o AS (
           SELECT doc_id, tok,
             CAST(sum(tok) OVER (ORDER BY skey, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok
               AS BIGINT) AS off
           FROM d),
         spans AS (
           -- generate_series as a LIST function + unnest: the table-
           -- function form can't take lateral column parameters
           SELECT doc_id, tok, off,
             unnest(generate_series(off // $SeqLen,
               (off + tok - 1) // $SeqLen)) AS seq_id
           FROM o)
         SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
           CAST(greatest(off, seq_id * $SeqLen) - off AS BIGINT)
             AS doc_start,
           CAST(greatest(off, seq_id * $SeqLen) - seq_id * $SeqLen
             AS BIGINT) AS seq_start,
           CAST(least(off + tok, (seq_id + 1) * $SeqLen)
             - greatest(off, seq_id * $SeqLen) AS BIGINT) AS n_toks
         FROM spans
         ORDER BY seq_id, doc_id"""),
    // mask metadata rollup of the pack_sequences span table: ordered
    // seq_start:n_toks boundary digest + pad, same layout CTEs
    Gate("pack_masks", (s, d) => Packing.packMasksDocs(s, d, SeqLen),
      s"""WITH d AS (
           SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS tok,
             md5('pack:' || CAST(doc_id AS VARCHAR)) AS skey
           FROM documents),
         o AS (
           SELECT doc_id, tok,
             CAST(sum(tok) OVER (ORDER BY skey, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok
               AS BIGINT) AS off
           FROM d),
         spans AS (
           SELECT doc_id, tok, off,
             unnest(generate_series(off // $SeqLen,
               (off + tok - 1) // $SeqLen)) AS seq_id
           FROM o),
         segs AS (
           SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
             CAST(greatest(off, seq_id * $SeqLen) - seq_id * $SeqLen
               AS BIGINT) AS seq_start,
             CAST(least(off + tok, (seq_id + 1) * $SeqLen)
               - greatest(off, seq_id * $SeqLen) AS BIGINT) AS n_toks
           FROM spans)
         SELECT seq_id, count(*) AS n_segments,
           CAST(sum(n_toks) AS BIGINT) AS n_toks_used,
           CAST($SeqLen - sum(n_toks) AS BIGINT) AS n_pad,
           md5(string_agg(CAST(seq_start AS VARCHAR) || ':'
             || CAST(n_toks AS VARCHAR), ','
             ORDER BY seq_start, n_toks, doc_id)) AS segments_digest
         FROM segs GROUP BY seq_id ORDER BY seq_id"""),
    // per-language greedy fill in the same md5-salted order; a doc is
    // admitted when its first token falls inside the lang budget
    Gate("mix_budget", (s, d) => Packing.mixBudgetDocs(s, d, MixBudget),
      s"""WITH d AS (
           SELECT doc_id, lang,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS tok,
             md5('mix:' || CAST(doc_id AS VARCHAR)) AS skey
           FROM documents),
         c AS (
           SELECT doc_id, lang, tok,
             sum(tok) OVER (PARTITION BY lang ORDER BY skey, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok
               AS off
           FROM d)
         SELECT doc_id, lang, tok, CAST(off AS BIGINT) AS off
         FROM c WHERE off < $MixBudget ORDER BY doc_id"""),
    // BM25: constants written as the same arithmetic Spark evaluates
    // ((1.2 + 1), not 2.2) so both engines produce bit-identical doubles
    Gate("bm25_topk", Retrieval.bm25Docs(_, _), bm25OracleSql),
    Gate("hybrid_topk", Retrieval.hybridDocs(_, _), hybridOracleSql),
    // late interaction: each <q_i, d_j> sub-dot floor-micro-quantized
    // BEFORE the max/sum, so the whole MaxSim is integer arithmetic
    Gate("maxsim_topk", Retrieval.maxSimDocs(_, _),
      """WITH q AS (
           SELECT vec_id AS q_id, embedding AS qv FROM embeddings
           WHERE vec_id < 10),
         scored AS (
           SELECT q_id, c.vec_id,
             CAST(list_sum(list_transform(generate_series(0, 3), i ->
               list_max(list_transform(generate_series(0, 3), j ->
                 CAST(floor(list_sum(list_transform(generate_series(1, 16),
                   k -> CAST(qv[i * 16 + k] AS DOUBLE)
                      * CAST(c.embedding[j * 16 + k] AS DOUBLE)))
                   * 1e6) AS BIGINT))))) AS BIGINT) AS maxsim
           FROM embeddings c JOIN q ON c.vec_id != q.q_id),
         ranked AS (
           SELECT q_id, vec_id, maxsim, row_number() OVER (
             PARTITION BY q_id ORDER BY maxsim DESC, vec_id) AS rk
           FROM scored)
         SELECT q_id, rk, vec_id, maxsim FROM ranked
         WHERE rk <= 10 ORDER BY q_id, rk"""),
    // --- training-data pipeline: multimodal binary columns
    Gate("mm_metadata", (s, d) => Multimodal.blobMetadata(s, d).drop("content_hash"),
      """SELECT doc_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         octet_length(encode(text)) AS n_bytes,
         upper(substr(hex(encode(text)), 1, 16)) AS magic_hex
         FROM documents ORDER BY doc_id"""),
    Gate("mm_decode", Multimodal.decodeDims(_, _),
      s"""WITH h AS (
           SELECT doc_id, ${duckMd5_60("text")} AS h FROM documents)
         SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           CAST(64 + (h % 8) * 32 AS INT) AS width,
           CAST(64 + ((h >> 8) % 8) * 32 AS INT) AS height,
           CAST(3 AS INT) AS channels,
           CAST(1 + ((h >> 16) % 30) AS INT) AS n_frames
         FROM h ORDER BY doc_id"""),
    Gate("mm_frames", Multimodal.sampleFrames(_, _),
      s"""WITH h AS (
           SELECT doc_id, ${duckMd5_60("text")} AS h FROM documents
           WHERE CAST(doc_id % 3 AS INT) = 2),
         d AS (
           SELECT doc_id, CAST(1 + ((h >> 16) % 30) AS INT) AS n_frames FROM h)
         SELECT doc_id, n_frames, CAST(f AS INT) AS frame_idx
         FROM d, UNNEST(generate_series(0, n_frames - 1,
           greatest(CAST(ceil(n_frames / 4.0) AS INT), 1))) t(f)
         ORDER BY doc_id, frame_idx"""),
    // gate on the decode's EXACT integer histogram (square-sum + md5 of
    // the 64 zero-filled counts) — engine-exact, so DuckDB hash-gates
    // the full decode path; the Float normalization of the embedding is
    // MultimodalSpec-pinned (no cross-engine promise on Float division)
    // mm_features: the stub decode's integer byte-bucket histogram,
    // recomputed from the text characters (the fixture is pure ASCII,
    // FixtureSchemaSpec enforces it — so ord(char) IS the UTF-8 byte),
    // zero-filled over all 64 buckets to match the Spark array shape.
    // The Float-normalized embedding stays out of the hash on purpose.
    Gate("mm_features",
      (s, d) =>
        Multimodal.extractFeaturesAudit(s, d).drop("embedding"),
      """WITH chars AS (
           SELECT doc_id, ord(text[i]) % 64 AS b
           FROM documents, UNNEST(generate_series(1, length(text))) t(i)),
         counts AS (
           SELECT doc_id, b, count(*) AS c FROM chars GROUP BY 1, 2),
         grid AS (
           SELECT d.doc_id, g.b FROM (SELECT doc_id FROM documents) d,
             UNNEST(generate_series(0, 63)) g(b)),
         full_h AS (
           SELECT grid.doc_id, grid.b, coalesce(counts.c, 0) AS c
           FROM grid LEFT JOIN counts
             ON grid.doc_id = counts.doc_id AND grid.b = counts.b)
         SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS hist_sq,
           md5(string_agg(CAST(c AS VARCHAR), ',' ORDER BY b)) AS hist_digest
         FROM full_h GROUP BY doc_id ORDER BY doc_id"""),
    // cross-modal retrieval: text-side queries → trained-centroid IVF
    // over image-side features (integer byte-histogram domain, so the
    // whole funnel — train, assign, probe, cosine — is engine-exact)
    // cross-modal retrieval: image-side histograms train the Lloyd
    // chain; text-side histograms probe it — see mmXmodalOracle
    Gate("mm_xmodal_topk", (s, d) => Multimodal.xmodalTopK(s, d), mmXmodalOracle),
    // --- streaming surface, driven through the gate: each entry runs a
    // REAL Structured Streaming query (file source → transform →
    // idempotent parquet sink) to completion and returns the landed
    // output, so the DuckDB oracle checks genuine streaming results —
    // stateless admission, dropDuplicatesWithinWatermark, stateful
    // mapGroups funnel, watermarked append windows, budget admission.
    Gate("stream_quality", streaming.StreamQueries.qualityDocs(_, _), streamQualityOracleSql),
    // deterministic projection of the streaming content dedup: exactly
    // one survivor per content class
    Gate("stream_dedup", streaming.StreamQueries.dedupDocs(_, _),
      "SELECT DISTINCT md5(text) AS fp FROM documents ORDER BY fp"),
    // the streaming funnel must land the SAME frontier table
    Gate("stream_funnel", streaming.StreamQueries.funnelEvents(_, _), funnelOracleSql),
    // append-mode watermark cutoff applied oracle-side: windows whose
    // end is <= max(event time) - 1h delay are exactly the finalized
    // (emitted) set. Watermark is tracked in WHOLE MILLISECONDS by the
    // engine (EventTimeStats), so the oracle floors to ms before
    // subtracting the delay — an hour-boundary max-event edge case
    // would otherwise disagree in the sub-ms remainder.
    Gate("stream_hourly", streaming.StreamQueries.hourlyEvents(_, _),
      """WITH wm AS (
           SELECT (epoch_ms(max(ts)) - 3600000) * 1000 AS wm_us FROM events)
         SELECT * FROM (
           SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
             count(*) AS n_events, round(sum(value), 2) AS total_value
           FROM events GROUP BY 1, 2)
         WHERE hour_us + 3600000000 <= (SELECT wm_us FROM wm)
         ORDER BY hour_us, event_type"""),
    // mix-drift alarm: same watermark cutoff as stream_hourly; reference
    // shares and window shares are exact integer micro-units (Long `div`
    // ≡ `//` on non-negative BIGINTs), zero-count tracked types included
    Gate("stream_mixdrift", streaming.StreamQueries.mixDriftEvents(_, _),
      s"""WITH wm AS (
           SELECT (epoch_ms(max(ts)) - 3600000) * 1000 AS wm_us FROM events),
         tot AS (SELECT count(*) AS t FROM events),
         ref AS (
           SELECT event_type,
             CAST(count(*) * 1000000 // (SELECT t FROM tot) AS BIGINT)
               AS ref_micro
           FROM events GROUP BY 1),
         h AS (
           SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
             count(*) AS n_total
           FROM events GROUP BY 1),
         tn AS (
           SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
             count(*) AS n
           FROM events GROUP BY 1, 2),
         grid AS (
           SELECT h.hour_us, t.event_type, h.n_total
           FROM h CROSS JOIN (VALUES ${
        streaming.Streaming.MixEventTypes.map(t => s"('$t')").mkString(", ")
      }) t(event_type))
         SELECT g.hour_us, g.event_type,
           CAST(coalesce(tn.n, 0) AS BIGINT) AS n, g.n_total,
           CAST(coalesce(tn.n, 0) * 1000000 // g.n_total AS BIGINT)
             AS share_micro,
           coalesce(r.ref_micro, 0) AS ref_micro,
           CAST(abs(CAST(coalesce(tn.n, 0) * 1000000 // g.n_total AS BIGINT)
             - coalesce(r.ref_micro, 0))
             > ${streaming.Streaming.MixDriftThresholdMicro} AS INTEGER)
             AS drift
         FROM grid g
         LEFT JOIN tn ON g.hour_us = tn.hour_us
           AND g.event_type = tn.event_type
         LEFT JOIN ref r ON g.event_type = r.event_type
         WHERE g.hour_us + 3600000000 <= (SELECT wm_us FROM wm)
         ORDER BY g.hour_us, g.event_type"""),
    // per-language admission prefix sum, arrival order = doc_id
    Gate("stream_admit", streaming.StreamQueries.admitDocs(_, _),
      s"""WITH t AS (
           SELECT doc_id, lang,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS tok
           FROM documents),
         s AS (SELECT doc_id, lang, tok,
                 CAST(coalesce(sum(tok) OVER (PARTITION BY lang
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                   PRECEDING), 0) AS BIGINT) AS "off"
               FROM t)
         SELECT doc_id, lang, tok, "off" FROM s
         WHERE "off" < ${streaming.StreamQueries.AdmitBudget}
         ORDER BY doc_id"""),
    Gate("stream_quarantine", streaming.StreamQueries.quarantineDocs(_, _), streamQuarantineOracle),
    // gap sessionization with event-time-timeout eviction: emitted =
    // gap-closed in batch (every non-last session of a user) plus last
    // sessions whose armed timeout (end + gap) fell strictly below the
    // final ms-floored watermark. value pre-quantized to micro-units so
    // session sums are exact integers in any accumulation order.
    Gate("stream_sessions", streaming.StreamQueries.sessionsEvents(_, _),
      """WITH ev AS (
           SELECT user_id, epoch_ms(ts) AS ms, floor(value * 1e6) AS v
           FROM events),
         lagd AS (
           SELECT user_id, ms, v,
             lag(ms) OVER (PARTITION BY user_id ORDER BY ms) AS pms
           FROM ev),
         isl AS (
           SELECT user_id, ms, v,
             sum(CASE WHEN pms IS NULL OR ms - pms > 1800000 THEN 1
                      ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ms
                     ROWS UNBOUNDED PRECEDING) AS sid
           FROM lagd),
         sess AS (
           SELECT user_id, sid, min(ms) AS start_ms, max(ms) AS end_ms,
             CAST(count(*) AS INT) AS n_events,
             CAST(sum(v) AS DOUBLE) AS total_value,
             sid < max(sid) OVER (PARTITION BY user_id) AS closed_in_batch
           FROM isl GROUP BY 1, 2),
         wm AS (SELECT max(epoch_ms(ts)) - 3600000 AS wm_ms FROM events)
         SELECT user_id, start_ms, end_ms, n_events, total_value
         FROM sess, wm
         WHERE closed_in_batch OR end_ms + 1800000 < wm_ms
         ORDER BY user_id, start_ms"""),
    // watermarked stream-stream join: inner matches emit as found, so
    // the landed set equals the batch interval join
    Gate("stream_join", streaming.StreamQueries.joinEvents(_, _),
      """SELECT p.event_id AS purchase_id, p.user_id,
           epoch_us(p.ts) AS purchase_us, epoch_us(c.ts) AS click_us
         FROM events p JOIN events c
           ON p.event_type = 'purchase' AND c.event_type = 'click'
           AND p.user_id = c.user_id
           AND epoch_us(c.ts) <= epoch_us(p.ts)
           AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
         ORDER BY purchase_id, click_us"""),
    // stream-static broadcast enrichment: modal event type per user
    // with the same (count, type) lexicographic tie rule max_by applies
    Gate("stream_enrich", streaming.StreamQueries.enrichEvents(_, _),
      """WITH c AS (
           SELECT user_id, event_type, count(*) AS n
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT user_id, event_type, row_number() OVER (
             PARTITION BY user_id ORDER BY n DESC, event_type DESC) AS rk
           FROM c),
         dim AS (SELECT user_id, event_type AS home_type FROM r WHERE rk = 1)
         SELECT e.event_id, e.user_id, e.event_type,
           d.home_type IS NOT NULL AS is_known,
           coalesce(d.home_type, 'unknown') AS home_type
         FROM events e LEFT JOIN dim d USING (user_id)
         ORDER BY e.event_id"""),
    // complete-mode leaderboard: the final emission equals the batch top-k
    Gate("stream_topk", streaming.StreamQueries.leaderboardEvents(_, _),
      """SELECT user_id, count(*) AS n_events FROM events
         GROUP BY 1 ORDER BY n_events DESC, user_id LIMIT 10"""),
    // stateless fingerprint enrichment: md5-60 digest + per-doc distinct
    // winnow-fp count (same rolling-hash chain as the text_winnow gate)
    Gate("stream_fingerprint", streaming.StreamQueries.fingerprintDocs(_, _),
      s"""WITH cs AS (
           SELECT doc_id, list_transform(generate_series(1, length(text)),
             i -> CAST(ord(substr(text, i, 1)) AS BIGINT)) AS cs
           FROM documents WHERE length(text) >= 8),
         g AS (
           SELECT doc_id, list_transform(generate_series(1, len(cs) - 4),
             i -> (cs[i] * 4362470401 + cs[i+1] * 16974593 + cs[i+2] * 66049
                   + cs[i+3] * 257 + cs[i+4]) % 1000000007) AS grams
           FROM cs),
         w AS (
           SELECT DISTINCT doc_id, list_min(grams[j:j+3]) AS wfp
           FROM g, UNNEST(generate_series(1, len(grams) - 3)) t(j)),
         wc AS (SELECT doc_id, CAST(count(*) AS INT) AS n_winnow_fps
                FROM w GROUP BY 1)
         SELECT d.doc_id, ${duckMd5_60("text")} AS fp,
           coalesce(wc.n_winnow_fps, 0) AS n_winnow_fps
         FROM documents d LEFT JOIN wc USING (doc_id)
         ORDER BY doc_id"""),
    Gate("stream_upsert", streaming.StreamQueries.upsertVectors(_, _), ivfUpsertOracle),
    Gate("stream_cdc", streaming.StreamQueries.cdcDocs(_, _), cdcApplyOracle),
    // streaming ingest through the same source's MicroBatchStream must
    // land exactly the batch row set — one shared oracle string
    Gate("stream_line_ingest", streaming.StreamQueries.lineIngest(_, _), lineTableOracle),
    // the stateless streaming twin lands the identical votes
    Gate("stream_weak_labels", streaming.StreamQueries.weakLabelDocs(_, _), weakLabelsOracle),
    Gate("stream_pipeline", streaming.StreamQueries.pipelineDocs(_, _), streamPipelineOracleSql),
    // --- the composed curation pipeline (dedup → decon → quality →
    // sample) as one plan, gated end to end
    Gate("pipeline_curate", operators.Pipeline.curateDocs(_, _), pipelineCurateOracleSql),
    // --- link-graph centrality (crawl prioritization): fixed-iteration
    // integer-micro PageRank over the synthesized doc link graph
    Gate("graph_pagerank", operators.Graph.pageRankDocs(_, _), pageRankOracleSql),
    // --- data-layout optimization: Z-order file assignment + the
    // per-file min/max manifest data skipping prunes on
    Gate("zorder_layout", operators.Layout.zorderLineitem(_, _), zorderOracleSql),
    Gate("hilbert_layout", operators.Layout.hilbertLineitem(_, _), hilbertOracleSql),
    Gate("skip_audit", operators.Layout.skipAuditLineitem(_, _), skipAuditOracleSql),
    // bucketed range join restated as DuckDB's native range predicate —
    // the oracle checks the SEMANTICS (point-in-interval), not the
    // bucketing rewrite, so a bucket-boundary bug cannot hash-match
    Gate("range_join", operators.RangeJoin.rangeJoinEvents(_, _),
      """WITH iv AS (
           SELECT event_id AS iv_id, value - 40 AS lo, value + 40 AS hi
           FROM events WHERE event_id % 50 = 0 AND event_id < 1000)
         SELECT iv_id, count(*) AS n_points,
           min(e.event_id) AS min_event, max(e.event_id) AS max_event
         FROM iv JOIN events e ON e.value >= iv.lo AND e.value <= iv.hi
         GROUP BY iv_id ORDER BY iv_id"""),
  )

  /** Trained-k-means oracle: unroll [[operators.Clustering.kmeans]]'s
    * 3 Lloyd iterations as a CTE chain (the [[pageRankOracleSql]]
    * technique). Each stage is engine-exact by construction: init is
    * the first k vectors by vec_id; every distance is the same
    * left-to-right double `c² − 2·v·c` the kmeans_fixed gate proved
    * bit-identical (list_sum ≡ the native kernel's sequential fold);
    * the centroid update sums floor(x·1e6) BIGINTs (exact in any
    * order) and divides `s/(1e6·n)` in double — so the trained
    * centroids, and therefore every assignment, match Spark's
    * bit-for-bit. Empty clusters keep their previous position (the
    * LEFT JOIN's NULL branch), mirroring the trainer's clone.
    */
  /** The micro-quantized Lloyd chain as CTEs, parameterized so one
    * builder serves the full-dim `kmeans_assign` oracle AND the four
    * per-subspace chains of the `pq_trained_codes` oracle: `pfx`
    * prefixes every CTE name, `vExpr` renders the (double) training
    * vector from an `embeddings` row, and the caller composes the
    * final selection from `${pfx}e` and `${pfx}c$iters`. The argmin
    * CTE shape is exposed as [[kmeansAssignCte]] (same dist spelling,
    * same smaller-id ties) so training-time assignment and any
    * downstream code assignment can never drift.
    */
  private def kmeansAssignCte(name: String, eCte: String, cents: String,
      dim: Int, outCol: String): String =
    s"""$name AS (
       SELECT vec_id, c_id AS $outCol FROM (
         SELECT e.vec_id, c.c_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             c.c2 - 2 * list_sum(list_transform(generate_series(1, $dim),
               dd -> e.v[dd] * c.c[dd])), c.c_id) AS rk
         FROM $eCte e CROSS JOIN $cents c) WHERE rk = 1)"""

  private def kmeansChainCtes(pfx: String, k: Int, iters: Int, dim: Int,
      vExpr: String, where: String = "",
      from: String = "embeddings"): Seq[String] = {
    val head = s"""${pfx}e AS (
       SELECT vec_id, $vExpr AS v
       FROM $from$where),
     ${pfx}c0r AS (
       SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c_id, v AS c
       FROM (SELECT vec_id, v FROM ${pfx}e ORDER BY vec_id LIMIT $k)),
     ${pfx}c0 AS (SELECT c_id, c,
       list_sum(list_transform(c, x -> x * x)) AS c2 FROM ${pfx}c0r)"""
    val steps = (1 to iters).flatMap { i =>
      Seq(
        kmeansAssignCte(s"${pfx}a$i", s"${pfx}e", s"${pfx}c${i - 1}", dim,
          "cluster"),
        s"""${pfx}s$i AS (
       SELECT a.cluster, g.d,
         CAST(sum(CAST(floor(e.v[g.d + 1] * 1e6) AS BIGINT)) AS BIGINT) AS s,
         count(*) AS n
       FROM ${pfx}a$i a JOIN ${pfx}e e USING (vec_id)
       CROSS JOIN UNNEST(generate_series(0, ${dim - 1})) g(d)
       GROUP BY 1, 2)""",
        s"""${pfx}c${i}r AS (
       SELECT p.c_id,
         list(CASE WHEN s.n IS NULL THEN p.c[g.d + 1]
              ELSE CAST(s.s AS DOUBLE) / (1e6 * s.n) END ORDER BY g.d) AS c
       FROM ${pfx}c${i - 1} p
       CROSS JOIN UNNEST(generate_series(0, ${dim - 1})) g(d)
       LEFT JOIN ${pfx}s$i s ON s.cluster = p.c_id AND s.d = g.d
       GROUP BY p.c_id)""",
        s"""${pfx}c$i AS (SELECT c_id, c,
       list_sum(list_transform(c, x -> x * x)) AS c2 FROM ${pfx}c${i}r)""")
    }
    head +: steps
  }

  private def kmeansAssignOracleSql: String = {
    val k = 16; val iters = 3; val dim = 64
    val chain = kmeansChainCtes("", k, iters, dim,
      "list_transform(embedding, x -> CAST(x AS DOUBLE))")
    // CAST: Spark's cluster is the argmin kernel's INT c_id; DuckDB's
    // row_number() would otherwise surface BIGINT and fail schema_match
    (chain :+ kmeansAssignCte("afin", "e", s"c$iters", dim, "cluster"))
      .mkString("WITH ", ",\n     ",
        "\n     SELECT vec_id, CAST(cluster AS INTEGER) AS cluster FROM afin ORDER BY vec_id")
  }

  /** `ann_ivf_kmeans` oracle: the trained-centroid IVF probe path —
    * cells come from the micro-quantized Lloyd chain run over the
    * UNIT-normalized vectors (`x/‖v‖` cast to float then back to
    * double — one IEEE division + one round-to-nearest cast, exact on
    * both engines), then the `ann_ivf` probe spelling verbatim with
    * trained centroids in place of the first-16 seeds (cell norm =
    * sqrt(c2), the chain's own left-to-right square sum). Larger-c_id
    * ties throughout, matching Spark's greatest(struct).
    */
  private def annIvfKmeansOracle: String = annIvfKmeansOracleWith("")

  /** `ann_ivf_kmeans_sampled` oracle: identical to the full-corpus
    * trained-IVF oracle except the Lloyd chain's training input is
    * gated to [[operators.Similarity.IvfKmeansSampleFraction]] by the
    * `sample_det` md5-bucket predicate — init (first k by vec_id) and
    * every iteration see only the gated slice, exactly like the Scala
    * trainer; assignment and probing still cover the full corpus.
    */
  private def annIvfKmeansSampledOracle: String =
    annIvfKmeansOracleWith(ivfSampleWhere)

  /** The `sample_det` md5-bucket training gate as a WHERE clause —
    * ONE spelling for every sample-trained Lloyd chain (the plain IVF
    * sampled arm and all five chains of the sampled stack), so the
    * slice the oracles train on cannot drift from
    * [[operators.Similarity.IvfKmeansSampleFraction]]/Salt.
    */
  private def ivfSampleWhere: String = {
    val cut = (1000000L * operators.Similarity.IvfKmeansSampleFraction).toLong
    val salt = operators.Similarity.IvfKmeansSampleSalt
    s"""
       WHERE ${duckMd5_60(s"'$salt' || CAST(vec_id AS VARCHAR)")} % 1000000
             < $cut"""
  }

  /** `mm_xmodal_topk` oracle: image-side byte-bucket histograms (the
    * `mm_features` spelling, doc_id % 3 = 0) as DOUBLE lists — counts
    * are < 2^24, so the Scala float features replay exactly — feed the
    * Lloyd chain over their unit normalization (the `ann_ivf_kmeans`
    * cast discipline), then the trained-IVF probe body with a TEXT-side
    * query batch (doc_id < 10 histograms). No self-exclusion: the two
    * modalities are distinct relations. Larger-c_id ties throughout,
    * matching Spark's greatest(struct).
    */
  private def mmXmodalOracle: String = {
    val iters = 2
    def hist(pfx: String, pred: String, idName: String): String =
      s"""${pfx}chars AS (
           SELECT doc_id, ord(text[i]) % 64 AS b
           FROM documents, UNNEST(generate_series(1, length(text))) t(i)
           WHERE $pred),
         ${pfx}counts AS (
           SELECT doc_id, b, count(*) AS c FROM ${pfx}chars GROUP BY 1, 2),
         ${pfx}grid AS (
           SELECT d.doc_id, g.b
           FROM (SELECT doc_id FROM documents WHERE $pred) d,
             UNNEST(generate_series(0, 63)) g(b)),
         ${pfx}feat AS MATERIALIZED (
           SELECT g.doc_id AS $idName,
             list(CAST(coalesce(c.c, 0) AS DOUBLE) ORDER BY g.b) AS emb
           FROM ${pfx}grid g LEFT JOIN ${pfx}counts c
             ON g.doc_id = c.doc_id AND g.b = c.b
           GROUP BY g.doc_id)"""
    val unitExprX =
      """list_transform(emb, x -> CAST(CAST(x /
         sqrt(list_sum(list_transform(emb, y -> y * y))) AS REAL) AS DOUBLE))"""
    val chain = kmeansChainCtes("x", 16, iters, 64, unitExprX,
      from = "ifeat")
    val body = s"""base AS (
           SELECT vec_id, emb,
             sqrt(list_sum(list_transform(emb, x -> x * x))) AS norm
           FROM ifeat),
         qbase AS (
           SELECT q_id, emb,
             sqrt(list_sum(list_transform(emb, x -> x * x))) AS norm
           FROM qfeat),
         cents AS (
           SELECT c_id, c AS c_emb, sqrt(c2) AS c_norm FROM xc$iters),
         scores AS (
           SELECT b.vec_id, c.c_id,
             list_sum(list_transform(generate_series(1, 64),
               d -> b.emb[d] * c.c_emb[d])) / (b.norm * c.c_norm) AS ccos
           FROM base b CROSS JOIN cents c),
         assigned AS (
           SELECT vec_id, c_id AS cell FROM (
             SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY ccos DESC, c_id DESC) AS rn
             FROM scores) WHERE rn = 1),
         qscores AS (
           SELECT q.q_id, c.c_id,
             list_sum(list_transform(generate_series(1, 64),
               d -> q.emb[d] * c.c_emb[d])) / (q.norm * c.c_norm) AS ccos
           FROM qbase q CROSS JOIN cents c),
         probes AS (
           SELECT q_id, c_id AS probe_cell FROM (
             SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY ccos DESC, c_id DESC) AS rn
             FROM qscores) WHERE rn <= 4),
         cand AS (
           SELECT p.q_id, a.vec_id
           FROM probes p JOIN assigned a ON a.cell = p.probe_cell),
         xscored AS (
           SELECT c.q_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, 64),
               d -> bc.emb[d] * bq.emb[d])) / (bc.norm * bq.norm), 4) AS cos
           FROM cand c
           JOIN base bc ON bc.vec_id = c.vec_id
           JOIN qbase bq ON bq.q_id = c.q_id),
         ranked AS (
           SELECT q_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos DESC, neighbor_id) AS rk
           FROM xscored)
         SELECT q_id, rk, neighbor_id, cos FROM ranked
         WHERE rk <= 10 ORDER BY q_id, rk"""
    (Seq(hist("i", "doc_id % 3 = 0", "vec_id"),
      hist("q", "doc_id < 10", "q_id")) ++ chain :+ body)
      .mkString("WITH ", ",\n     ", "")
  }

  /** `ivf_pq_trained_topk` stage 1 as one nested query: FIVE Lloyd
    * chains (the `ann_ivf_kmeans` unit chain for cells + the
    * `pq_trained_codes` four subspace chains for books), cosine cell
    * assignment/probing (larger-c_id ties), trained-book codes by the
    * shared assign-CTE argmin, per-query micro ADC tables, and the
    * probed-cell-restricted integer distance sum cut to the constant
    * shortlist. Feeds [[pqRerankWrapOracle]]'s exact-L2 refine — every
    * spelling is its parent gate's, composed.
    */
  private def ivfPqTrainedShortQuery(trainWhere: String = ""): String = {
    val cellIters = 3; val bookIters = 2; val m = 4; val k = 16
    val subDim = 16
    val unitExpr =
      """list_transform(embedding, x -> CAST(CAST(CAST(x AS DOUBLE) /
         sqrt(list_sum(list_transform(embedding,
           y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS REAL) AS DOUBLE))"""
    val uChain = kmeansChainCtes("u", 16, cellIters, 64, unitExpr, trainWhere)
    val bookChains = (0 until m).flatMap { j =>
      val vExpr = s"list_transform(generate_series(${j * subDim + 1}, " +
        s"${(j + 1) * subDim}), d -> CAST(embedding[d] AS DOUBLE))"
      kmeansChainCtes(s"p$j", k, bookIters, subDim, vExpr, trainWhere)
    }
    val centsUnion = (0 until m)
      .map(j => s"SELECT $j AS sub, c_id, c, c2 FROM p${j}c$bookIters")
      .mkString("\n           UNION ALL ")
    val body = s"""cents AS MATERIALIZED (
           $centsUnion),
         base AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
           FROM embeddings),
         ccents AS (
           SELECT c_id, c AS c_emb, sqrt(c2) AS c_norm FROM uc$cellIters),
         cscores AS (
           SELECT b.vec_id, c.c_id,
             list_sum(list_transform(generate_series(1, 64),
               d -> CAST(b.embedding[d] AS DOUBLE) * c.c_emb[d]))
               / (b.norm * c.c_norm) AS ccos
           FROM base b CROSS JOIN ccents c),
         assigned AS (
           SELECT vec_id, c_id AS cell FROM (
             SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY ccos DESC, c_id DESC) AS rn
             FROM cscores) WHERE rn = 1),
         probes AS (
           SELECT vec_id AS q_id, c_id AS probe_cell FROM (
             SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY ccos DESC, c_id DESC) AS rn
             FROM cscores) WHERE rn <= 4 AND vec_id < 10),
         pairs AS (
           SELECT p.q_id, a.vec_id
           FROM probes p JOIN assigned a ON a.cell = p.probe_cell
           WHERE a.vec_id != p.q_id),
         scored AS (
           SELECT e.vec_id, c.sub, c.c_id,
             c.c2 - 2 * list_sum(list_transform(generate_series(1, 16),
                 d -> CAST(e.embedding[c.sub * 16 + d] AS DOUBLE) * c.c[d]))
               AS dist
           FROM embeddings e CROSS JOIN cents c),
         codes AS (
           SELECT vec_id, sub, c_id FROM (
             SELECT vec_id, sub, c_id,
               row_number() OVER (PARTITION BY vec_id, sub
                 ORDER BY dist, c_id) AS rk
             FROM scored) WHERE rk = 1),
         qt AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
                WHERE vec_id < 10),
         tbl AS (
           SELECT qt.q_id, c.sub, c.c_id,
             CAST(floor((c.c2 - 2 * list_sum(list_transform(
                 generate_series(1, 16),
                 d -> CAST(qt.qe[c.sub * 16 + d] AS DOUBLE) * c.c[d])))
               * 1e6) AS BIGINT) AS t_micro
           FROM qt CROSS JOIN cents c),
         adist AS (
           SELECT pr.q_id, pr.vec_id,
             CAST(sum(t.t_micro) AS BIGINT) AS adist_micro
           FROM pairs pr
           JOIN codes co ON co.vec_id = pr.vec_id
           JOIN tbl t ON t.q_id = pr.q_id AND t.sub = co.sub
             AND t.c_id = co.c_id
           GROUP BY pr.q_id, pr.vec_id)
         SELECT q_id, vec_id FROM (
           SELECT q_id, vec_id,
             row_number() OVER (PARTITION BY q_id
               ORDER BY adist_micro, vec_id) AS rk
           FROM adist)
         WHERE rk <= ${operators.Similarity.PqTrainedShortlist}"""
    (uChain ++ bookChains :+ body).mkString("WITH ", ",\n     ", "")
  }

  private def ivfPqTrainedOracle: String =
    pqRerankWrapOracle(ivfPqTrainedShortQuery())

  /** `ivf_pq_trained_sampled` oracle: the identical five-chain stack
    * with every chain's training input gated to the md5 quarter slice
    * ([[ivfSampleWhere]] — init AND every Lloyd iteration see only the
    * slice, exactly like the Scala trainers); assignment, coding,
    * probing, ADC and the exact rerank still cover the full corpus.
    */
  private def ivfPqTrainedSampledOracle: String =
    pqRerankWrapOracle(ivfPqTrainedShortQuery(ivfSampleWhere))

  private def annIvfKmeansOracleWith(trainWhere: String): String = {
    val iters = 3
    val unitExpr =
      """list_transform(embedding, x -> CAST(CAST(CAST(x AS DOUBLE) /
         sqrt(list_sum(list_transform(embedding,
           y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS REAL) AS DOUBLE))"""
    val chain = kmeansChainCtes("u", 16, iters, 64, unitExpr, trainWhere)
    val body = s"""base AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
           FROM embeddings),
         cents AS (
           SELECT c_id, c AS c_emb, sqrt(c2) AS c_norm FROM uc$iters),
         scores AS (
           SELECT b.vec_id, c.c_id,
             list_sum(list_transform(generate_series(1, 64),
               d -> CAST(b.embedding[d] AS DOUBLE) * c.c_emb[d]))
               / (b.norm * c.c_norm) AS ccos
           FROM base b CROSS JOIN cents c),
         assigned AS (
           SELECT vec_id, c_id AS cell FROM (
             SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY ccos DESC, c_id DESC) AS rn
             FROM scores) WHERE rn = 1),
         probes AS (
           SELECT vec_id AS q_id, c_id AS probe_cell FROM (
             SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY ccos DESC, c_id DESC) AS rn
             FROM scores) WHERE rn <= 4 AND vec_id < 10),
         cand AS (
           SELECT p.q_id, a.vec_id
           FROM probes p JOIN assigned a ON a.cell = p.probe_cell
           WHERE a.vec_id != p.q_id),
         scored AS (
           SELECT c.q_id, c.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, 64),
               d -> CAST(bc.embedding[d] AS DOUBLE) * CAST(bq.embedding[d] AS DOUBLE)))
               / (bc.norm * bq.norm), 4) AS cos
           FROM cand c
           JOIN base bc ON bc.vec_id = c.vec_id
           JOIN base bq ON bq.vec_id = c.q_id),
         ranked AS (
           SELECT q_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos DESC, neighbor_id) AS rk
           FROM scored)
         SELECT q_id, rk, neighbor_id, cos FROM ranked
         WHERE rk <= 10 ORDER BY q_id, rk"""
    (chain :+ body).mkString("WITH ", ",\n     ", "")
  }

  /** `pq_trained_codes` oracle: four independent per-subspace Lloyd
    * chains (subvector j = embedding dims j·16+1 … (j+1)·16, init =
    * first-k subvectors by vec_id — exactly
    * [[operators.Similarity.pqCodebooksTrained]]), then each vector's
    * code = the trained-centroid argmin under the shared assign CTE
    * shape. Every centroid coordinate is `s/(1e6·n)` of exact integer
    * sums, so the chains land bit-identical doubles on both engines.
    */
  private def pqTrainedCodesOracle: String = {
    val m = 4; val k = 16; val iters = 2; val subDim = 16
    val parts = (0 until m).flatMap { j =>
      val vExpr = s"list_transform(generate_series(${j * subDim + 1}, " +
        s"${(j + 1) * subDim}), d -> CAST(embedding[d] AS DOUBLE))"
      kmeansChainCtes(s"p$j", k, iters, subDim, vExpr) :+
        kmeansAssignCte(s"p${j}code", s"p${j}e", s"p${j}c$iters", subDim,
          s"code$j")
    }
    val joins = (1 until m).map(j => s"JOIN p${j}code USING (vec_id)")
      .mkString(" ")
    val cols = (0 until m).map(j => s"CAST(code$j AS INTEGER) AS code$j")
      .mkString(", ")
    parts.mkString("WITH ", ",\n     ",
      s"\n     SELECT vec_id, $cols FROM p0code $joins ORDER BY vec_id")
  }

  /** Z-order oracle: the same max-scaled quantization, the same flat
    * shift/mask interleave sum [[operators.Layout.interleave]] generates,
    * the same fixed-width file cells — all positive integer arithmetic,
    * so `div`/`//` and the bit ops agree exactly across engines.
    */
  private def zorderOracleSql: String = {
    val bits = operators.Layout.Bits
    val scale = 1L << bits
    val cellW = (1L << (2 * bits)) / operators.Layout.Files
    val terms = (0 until bits).map(i =>
      s"(((zx >> $i) & 1) << ${2 * i}) + (((zy >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""WITH b AS (
           SELECT max(l_orderkey) + 1 AS mx, max(l_partkey) + 1 AS my
           FROM lineitem),
         z AS (
           SELECT l_orderkey, l_partkey,
             (l_orderkey * $scale) // mx AS zx,
             (l_partkey * $scale) // my AS zy
           FROM lineitem, b),
         zz AS (
           SELECT l_orderkey, l_partkey, $terms AS zval FROM z)
         SELECT zval // $cellW AS file_id, count(*) AS n_rows,
           CAST(min(l_orderkey) AS BIGINT) AS min_x,
           CAST(max(l_orderkey) AS BIGINT) AS max_x,
           CAST(min(l_partkey) AS BIGINT) AS min_y,
           CAST(max(l_partkey) AS BIGINT) AS max_y
         FROM zz GROUP BY file_id ORDER BY file_id"""
  }

  /** Hilbert oracle: [[zorderOracleSql]]'s quantization and stats
    * rollup with the xy2d fold unrolled one CTE step per bit level —
    * identical integer shift/mask recurrence, constants interpolated
    * from the one Scala definition.
    */
  private def hilbertOracleSql: String = {
    val bits = operators.Layout.Bits
    val scale = 1L << bits
    val cellW = (1L << (2 * bits)) / operators.Layout.Files
    val steps = (0 until bits).map { k =>
      val sh = bits - 1 - k
      val s = 1L << sh
      val rx = s"((x$k >> $sh) & 1)"
      val ry = s"((y$k >> $sh) & 1)"
      s"""h${k + 1} AS (
           SELECT l_orderkey, l_partkey,
             CASE WHEN $ry = 0 THEN
               CASE WHEN $rx = 1 THEN $s - 1 - y$k ELSE y$k END
             ELSE x$k END AS x${k + 1},
             CASE WHEN $ry = 0 THEN
               CASE WHEN $rx = 1 THEN $s - 1 - x$k ELSE x$k END
             ELSE y$k END AS y${k + 1},
             d$k + ${s * s} *
               (CASE WHEN $rx = 1 THEN 3 - $ry ELSE $ry END) AS d${k + 1}
           FROM h$k)"""
    }.mkString(",\n         ")
    s"""WITH b AS (
           SELECT max(l_orderkey) + 1 AS mx, max(l_partkey) + 1 AS my
           FROM lineitem),
         h0 AS (
           SELECT l_orderkey, l_partkey,
             (l_orderkey * $scale) // mx AS x0,
             (l_partkey * $scale) // my AS y0,
             CAST(0 AS BIGINT) AS d0
           FROM lineitem, b),
         $steps
         SELECT d$bits // $cellW AS file_id, count(*) AS n_rows,
           CAST(min(l_orderkey) AS BIGINT) AS min_x,
           CAST(max(l_orderkey) AS BIGINT) AS max_x,
           CAST(min(l_partkey) AS BIGINT) AS min_y,
           CAST(max(l_partkey) AS BIGINT) AS max_y
         FROM h$bits GROUP BY file_id ORDER BY file_id"""
  }

  /** rp_project oracle: the identical generated ± float-sum template
    * ([[operators.Similarity.rpExprDuck]]) — same element order, same
    * floor-micro quantization, so the projection is bit-identical by
    * construction.
    */
  private def rpProjectOracleSql: String = {
    val cols = (0 until operators.Similarity.RpDim).map(j =>
      s"${operators.Similarity.rpExprDuck(j)} AS r${"%02d".format(j + 1)}")
      .mkString(",\n           ")
    s"""SELECT vec_id,
           $cols
         FROM embeddings ORDER BY vec_id"""
  }

  /** ann_rp_topk oracle: the projection CTE feeds an exact BIGINT
    * shortlist dot, then the matryoshka-style full-dim micro rerank.
    */
  private def rpTopKOracleSql: String = {
    val rDim = operators.Similarity.RpDim
    val arr = (0 until rDim).map(operators.Similarity.rpExprDuck)
      .mkString("[", ",\n             ", "]")
    s"""WITH p AS (
           SELECT vec_id, embedding,
             $arr AS rp
           FROM embeddings),
         q AS (
           SELECT vec_id AS q_id, embedding AS qv, rp AS qrp
           FROM p WHERE vec_id < 10),
         s1 AS (
           SELECT q_id, c.vec_id, c.embedding AS cv, qv,
             CAST(list_sum(list_transform(generate_series(1, $rDim),
               i -> c.rp[i] * qrp[i])) AS BIGINT) AS drp
           FROM p c JOIN q ON c.vec_id != q.q_id),
         r1 AS (
           SELECT *, row_number() OVER (PARTITION BY q_id
             ORDER BY drp DESC, vec_id) AS rk1
           FROM s1),
         s2 AS (
           SELECT q_id, vec_id,
             CAST(floor(list_sum(list_transform(generate_series(1, 64),
               d -> CAST(cv[d] AS DOUBLE) * CAST(qv[d] AS DOUBLE)))
               * 1e6) AS BIGINT) AS d64
           FROM r1 WHERE rk1 <= 50),
         r2 AS (
           SELECT q_id, vec_id, d64, row_number() OVER (PARTITION BY q_id
             ORDER BY d64 DESC, vec_id) AS rk
           FROM s2)
         SELECT q_id, rk, vec_id, d64 FROM r2
         WHERE rk <= 10 ORDER BY q_id, rk"""
  }

  /** DuckDB mirror of [[operators.Posttraining]]'s `boundedMicro`: the
    * identical floor-micro quantization with the SAME ±2^41 loud bound
    * (an `error()` arm in the same two-sided CASE shape), so the
    * posttraining family's exact-arithmetic guard is a hard error on
    * BOTH engines at the SAME threshold — without the mirror, a reward
    * between ~2.2e6 raw and BIGINT overflow raised on Spark but
    * computed silently in the oracle.
    */
  private def boundedMicroSql(op: String): String =
    s"""CASE WHEN CAST(floor(value * 1e6) AS BIGINT) > 2199023255552
              OR CAST(floor(value * 1e6) AS BIGINT) < -2199023255552
            THEN CAST(error('$op: |reward_micro| exceeds 2^41') AS BIGINT)
            ELSE CAST(floor(value * 1e6) AS BIGINT) END"""

  /** `bt_scores` oracle: the winner-vs-group pairing restated as a
    * row_number window, the per-ordered-pair win rates from the
    * symmetrized count table, and [[operators.Posttraining.btScores]]'s
    * MM iterations UNROLLED as CTEs (the pageRankOracleSql pattern) —
    * every operand non-negative, so `//` replays the Scala `/`
    * truncations bit-for-bit. Strength state is CAST back to BIGINT
    * each iteration (DuckDB sums promote to HUGEINT). The iteration
    * CTEs are `AS MATERIALIZED`: each d_k references s_{k−1} TWICE
    * (both sides of the pair), so DuckDB's default CTE INLINING
    * expands the chain exponentially — at 5 iterations the base scan
    * is re-opened thousands of times and the query dies on file
    * descriptors before it mis-plans (pageRankOracleSql never hit
    * this because its chain references each prior state once).
    */
  private def btScoresOracle: String = {
    val iters = 5
    val steps = (1 to iters).map { k =>
      s"""d$k AS MATERIALIZED (
           SELECT r.i AS t,
             CAST(sum(CASE WHEN si.s + sj.s = 0 THEN 0
               ELSE 1000000000000 // (si.s + sj.s) END) AS BIGINT) AS d
           FROM rates r
           JOIN s${k - 1} si ON si.t = r.i
           JOIN s${k - 1} sj ON sj.t = r.j
           GROUP BY r.i),
         raw$k AS MATERIALIZED (
           SELECT d.t, CAST(CASE WHEN d.d = 0 THEN 0
             ELSE st.w_micro * 1000000 // d.d END AS BIGINT) AS sr
           FROM d$k d JOIN stats st ON st.i = d.t),
         u$k AS MATERIALIZED (
           SELECT CAST(sum(sr) // (SELECT t FROM tc) AS BIGINT) AS unit
           FROM raw$k),
         s$k AS MATERIALIZED (
           SELECT r.t, CAST(CASE WHEN u.unit = 0 THEN 0
             ELSE r.sr * 1000000 // u.unit END AS BIGINT) AS s
           FROM raw$k r, u$k u)"""
    }.mkString(",\n       ")
    s"""WITH c AS (
           SELECT user_id, event_id, event_type,
             ${boundedMicroSql("btScores")} AS v
           FROM events),
         w AS (
           SELECT user_id, event_type AS win_type FROM (
             SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY v DESC, event_id DESC, event_type DESC) AS rk
             FROM c) WHERE rk = 1),
         p AS (
           SELECT w.win_type AS a, c.event_type AS b,
             CAST(count(*) AS BIGINT) AS wins
           FROM c JOIN w ON c.user_id = w.user_id
           WHERE c.event_type != w.win_type
           GROUP BY 1, 2),
         allp AS (
           SELECT i, j, CAST(sum(wn) AS BIGINT) AS wins FROM (
             SELECT a AS i, b AS j, wins AS wn FROM p
             UNION ALL SELECT b AS i, a AS j, 0 AS wn FROM p) u
           GROUP BY 1, 2),
         rates AS MATERIALIZED (
           SELECT x.i, x.j,
             CAST(x.wins * 1000000 // (x.wins + y.wins) AS BIGINT) AS r
           FROM allp x JOIN allp y ON x.i = y.j AND x.j = y.i
           WHERE x.wins + y.wins > 0),
         stats AS MATERIALIZED (
           SELECT i, CAST(count(*) AS BIGINT) AS n_opp,
             CAST(sum(r) AS BIGINT) AS w_micro
           FROM rates GROUP BY i),
         tc AS (SELECT CAST(count(*) AS BIGINT) AS t FROM stats),
         s0 AS MATERIALIZED (SELECT i AS t, CAST(1000000 AS BIGINT) AS s FROM stats),
         $steps
         SELECT st.i AS event_type, st.n_opp AS n_opponents, st.w_micro,
           s.s AS bt_micro
         FROM stats st JOIN s$iters s ON s.t = st.i
         ORDER BY event_type"""
  }

  /** Shared by `dpo_pairs` and `stream_dpo`: the selection restated as
    * two row_number windows over the identical (micro-score, id) total
    * order — the streaming update-mode aggregation must land exactly
    * this pair set.
    */
  private def bestOfNOracle: String =
    s"""WITH c AS (
           SELECT user_id, event_id,
             ${boundedMicroSql("bestOfN")} AS v
           FROM events),
         r AS (
           SELECT user_id, event_id, v,
             row_number() OVER (PARTITION BY user_id
               ORDER BY v DESC, event_id DESC) AS rb,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
               AS n_candidates,
             CAST(sum(CASE WHEN v >= 100000000 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id) AS BIGINT) AS n_passing
           FROM c)
         SELECT user_id AS prompt_id, event_id AS best_id, v AS best_micro,
           n_candidates, n_passing
         FROM r WHERE rb = 1 AND v >= 100000000
         ORDER BY prompt_id"""

  private def dpoPairsOracle: String =
    s"""WITH c AS (
           SELECT user_id, event_id,
             ${boundedMicroSql("dpoPairs")} AS v
           FROM events),
         r AS (
           SELECT user_id, event_id, v,
             row_number() OVER (PARTITION BY user_id
               ORDER BY v DESC, event_id DESC) AS rb,
             row_number() OVER (PARTITION BY user_id
               ORDER BY v ASC, event_id ASC) AS rw,
             count(*) OVER (PARTITION BY user_id) AS n
           FROM c)
         SELECT b.user_id AS prompt_id, b.event_id AS chosen_id,
           w.event_id AS rejected_id, b.v AS chosen_micro,
           w.v AS rejected_micro, b.v - w.v AS margin_micro,
           b.n AS n_candidates
         FROM (SELECT * FROM r WHERE rb = 1) b
         JOIN (SELECT * FROM r WHERE rw = 1) w ON b.user_id = w.user_id
         WHERE b.v > w.v
         ORDER BY prompt_id"""

  /** Shared CTE for the 1-bit family: the packed sign-bit halves as the
    * identical CASE-gated power-of-two folds the Spark side evaluates
    * ([[operators.Similarity.binarize]]) — bits 0–31 per half, so no
    * engine's left shift ever touches a sign bit.
    */
  private def binSigCte: String = {
    def half(off: Int): String =
      s"""CAST(list_sum(list_transform(generate_series(0, 31), d ->
             CASE WHEN embedding[d + $off + 1] >= 0
               THEN CAST(1 AS BIGINT) << d
               ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"""
    s"""sig AS (
           SELECT vec_id, embedding,
             ${half(0)} AS sig_lo,
             ${half(32)} AS sig_hi
           FROM embeddings)"""
  }

  /** ann_ham_lsh oracle: the signature CTE feeds the 8×8-bit band
    * expansion, the candidate equi-join, and the exact Hamming rank.
    * Shared verbatim as the approx side of `ann_recall_ham_lsh`.
    */
  private def hamLshOracleSql: String =
    s"""WITH $binSigCte,
         bands AS (
           SELECT vec_id, sig_lo, sig_hi, b,
             CASE WHEN b < 4 THEN (sig_lo >> (b * 8)) & 255
                  ELSE (sig_hi >> ((b - 4) * 8)) & 255 END AS bv
           FROM sig, UNNEST(generate_series(0, 7)) t(b)),
         q AS (
           SELECT vec_id AS q_id, sig_lo AS q_lo, sig_hi AS q_hi, b, bv
           FROM bands WHERE vec_id < 10),
         cand AS (
           SELECT DISTINCT q.q_id, c.vec_id, c.sig_lo, c.sig_hi,
             q.q_lo, q.q_hi
           FROM bands c JOIN q ON c.b = q.b AND c.bv = q.bv
             AND c.vec_id != q.q_id),
         scored AS (
           SELECT q_id, vec_id,
             CAST(bit_count(xor(sig_lo, q_lo))
                + bit_count(xor(sig_hi, q_hi)) AS BIGINT) AS ham
           FROM cand),
         ranked AS (
           SELECT q_id, vec_id, ham, row_number() OVER (PARTITION BY q_id
             ORDER BY ham, vec_id) AS rk
           FROM scored)
         SELECT q_id, rk, vec_id, ham FROM ranked
         WHERE rk <= 10 ORDER BY q_id, rk"""

  /** ann_ham_rerank oracle: the signature CTE feeds a Hamming-ascending
    * shortlist, then the matryoshka-style full-dim micro rerank.
    */
  private def hamRerankOracleSql: String =
    s"""WITH $binSigCte,
         q AS (
           SELECT vec_id AS q_id, embedding AS qv, sig_lo AS q_lo,
             sig_hi AS q_hi
           FROM sig WHERE vec_id < 10),
         s1 AS (
           SELECT q_id, s.vec_id, s.embedding AS cv, qv,
             CAST(bit_count(xor(s.sig_lo, q_lo))
                + bit_count(xor(s.sig_hi, q_hi)) AS BIGINT) AS ham
           FROM sig s JOIN q ON s.vec_id != q.q_id),
         r1 AS (
           SELECT *, row_number() OVER (PARTITION BY q_id
             ORDER BY ham, vec_id) AS rk1
           FROM s1),
         s2 AS (
           SELECT q_id, vec_id,
             CAST(floor(list_sum(list_transform(generate_series(1, 64),
               d -> CAST(cv[d] AS DOUBLE) * CAST(qv[d] AS DOUBLE)))
               * 1e6) AS BIGINT) AS d64
           FROM r1 WHERE rk1 <= 50),
         r2 AS (
           SELECT q_id, vec_id, d64, row_number() OVER (PARTITION BY q_id
             ORDER BY d64 DESC, vec_id) AS rk
           FROM s2)
         SELECT q_id, rk, vec_id, d64 FROM r2
         WHERE rk <= 10 ORDER BY q_id, rk"""

  /** kcenter_coreset oracle: the farthest-first traversal unrolled one
    * (select, re-min) CTE pair per step — the same v·v + (c² − 2·v·c)
    * operand order and floor-micro quantization as the Spark loop, with
    * the centers DERIVED in-query (min-vec_id seed, max-md/min-vec_id
    * argmax per step) rather than inlined, so the oracle re-runs the
    * whole greedy selection independently.
    */
  private def kCenterOracleSql: String = {
    val k = operators.Clustering.KCenterMaxK
    def dist(e: String, c: String): String =
      s"""CAST(floor((list_sum(list_transform(generate_series(1, 64),
             d -> CAST($e.embedding[d] AS DOUBLE) * CAST($e.embedding[d] AS DOUBLE)))
           + (list_sum(list_transform(generate_series(1, 64),
               d -> CAST($c.embedding[d] AS DOUBLE) * CAST($c.embedding[d] AS DOUBLE)))
             - 2 * list_sum(list_transform(generate_series(1, 64),
               d -> CAST($e.embedding[d] AS DOUBLE) * CAST($c.embedding[d] AS DOUBLE)))))
           * 1e6) AS BIGINT)"""
    val steps = (2 to k).map { i =>
      val pick =
        s"""c$i AS (
           SELECT e.vec_id, e.embedding, m.md
           FROM e JOIN m${i - 1} m ON m.vec_id = e.vec_id
           ORDER BY m.md DESC, e.vec_id LIMIT 1)"""
      val remin = if (i == k) "" else
        s""",
         m$i AS (
           SELECT m.vec_id, least(m.md, ${dist("e", "c")}) AS md
           FROM e JOIN m${i - 1} m ON m.vec_id = e.vec_id, c$i c)"""
      pick + remin
    }.mkString(",\n         ")
    val rows = (2 to k).map(i =>
      s"UNION ALL SELECT $i, (SELECT vec_id FROM c$i), (SELECT md FROM c$i)")
      .mkString("\n         ")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         c1 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1),
         m1 AS (SELECT e.vec_id, ${dist("e", "c")} AS md FROM e, c1 c),
         $steps
         SELECT * FROM (
           SELECT 1 AS step, (SELECT vec_id FROM c1) AS center_id,
             CAST(0 AS BIGINT) AS d_micro
           $rows)
         ORDER BY step"""
  }

  /** skip_audit oracle: the three manifests (linear-by-x baseline, Morton,
    * Hilbert) rebuilt with the same quantization CTEs the layout oracles
    * use — interleave terms and the xy2d unroll generated from the one
    * Scala definition — then the pruning test `max ≥ lo AND min ≤ hi`
    * replayed over the unioned manifest against corpus-derived integer
    * probe ranges [max/4, max/2] per dimension.
    */
  private def skipAuditOracleSql: String = {
    val bits = operators.Layout.Bits
    val scale = 1L << bits
    val cellW = (1L << (2 * bits)) / operators.Layout.Files
    val linW = (1L << bits) / operators.Layout.Files
    val terms = (0 until bits).map(i =>
      s"(((zx >> $i) & 1) << ${2 * i}) + (((zy >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    val steps = (0 until bits).map { k =>
      val sh = bits - 1 - k
      val s = 1L << sh
      val rx = s"((x$k >> $sh) & 1)"
      val ry = s"((y$k >> $sh) & 1)"
      s"""h${k + 1} AS (
           SELECT l_orderkey, l_partkey,
             CASE WHEN $ry = 0 THEN
               CASE WHEN $rx = 1 THEN $s - 1 - y$k ELSE y$k END
             ELSE x$k END AS x${k + 1},
             CASE WHEN $ry = 0 THEN
               CASE WHEN $rx = 1 THEN $s - 1 - x$k ELSE x$k END
             ELSE y$k END AS y${k + 1},
             d$k + ${s * s} *
               (CASE WHEN $rx = 1 THEN 3 - $ry ELSE $ry END) AS d${k + 1}
           FROM h$k)"""
    }.mkString(",\n         ")
    val stats = """count(*) AS n_rows,
           CAST(min(l_orderkey) AS BIGINT) AS min_x,
           CAST(max(l_orderkey) AS BIGINT) AS max_x,
           CAST(min(l_partkey) AS BIGINT) AS min_y,
           CAST(max(l_partkey) AS BIGINT) AS max_y"""
    s"""WITH b AS (
           SELECT max(l_orderkey) + 1 AS mx, max(l_partkey) + 1 AS my,
             max(l_orderkey) AS bx, max(l_partkey) AS by
           FROM lineitem),
         z AS (
           SELECT l_orderkey, l_partkey,
             (l_orderkey * $scale) // mx AS zx,
             (l_partkey * $scale) // my AS zy
           FROM lineitem, b),
         lin AS (
           SELECT 'linear_x' AS layout, zx // $linW AS file_id, $stats
           FROM z GROUP BY 1, 2),
         zz AS (
           SELECT l_orderkey, l_partkey, $terms AS zval FROM z),
         zman AS (
           SELECT 'zorder' AS layout, zval // $cellW AS file_id, $stats
           FROM zz GROUP BY 1, 2),
         h0 AS (
           SELECT l_orderkey, l_partkey, zx AS x0, zy AS y0,
             CAST(0 AS BIGINT) AS d0
           FROM z),
         $steps,
         hman AS (
           SELECT 'hilbert' AS layout, d$bits // $cellW AS file_id, $stats
           FROM h$bits GROUP BY 1, 2),
         man AS (
           SELECT * FROM lin UNION ALL
           SELECT * FROM zman UNION ALL
           SELECT * FROM hman)
         SELECT layout, count(*) AS n_files,
           CAST(sum(CASE WHEN max_x >= bx // 4 AND min_x <= bx // 2
             THEN 1 ELSE 0 END) AS BIGINT) AS files_x,
           CAST(sum(CASE WHEN max_x >= bx // 4 AND min_x <= bx // 2
             THEN n_rows ELSE 0 END) AS BIGINT) AS rows_x,
           CAST(sum(CASE WHEN max_y >= by // 4 AND min_y <= by // 2
             THEN 1 ELSE 0 END) AS BIGINT) AS files_y,
           CAST(sum(CASE WHEN max_y >= by // 4 AND min_y <= by // 2
             THEN n_rows ELSE 0 END) AS BIGINT) AS rows_y
         FROM man, b GROUP BY layout ORDER BY layout"""
  }

  /** minhash_mergeable oracle: the DIRECT (unsharded) signature — per
    * doc, each lane's min md5_60 over all shingles. The Spark side
    * computes the SHARDED two-level merge; digest equality across
    * engines is the mergeability proof.
    */
  private def minhashMergeableOracleSql: String = {
    val lanes = (0 until operators.Dedup.MinhashAuditLanes).map(i =>
      s"min(${duckMd5_60(s"'$i:' || shingle")}) AS m$i")
      .mkString(",\n           ")
    val joined = (0 until operators.Dedup.MinhashAuditLanes)
      .map(i => s"CAST(m$i AS VARCHAR)").mkString(" || ',' || ")
    s"""WITH sh AS (
           SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                 FROM documents),
                UNNEST(generate_series(1, len(w) - 2)) AS t(i)
           WHERE len(w) >= 3),
         lanes AS (
           SELECT doc_id,
           $lanes
           FROM sh GROUP BY doc_id)
         SELECT doc_id, m0 AS s0, md5($joined) AS sig_digest
         FROM lanes ORDER BY doc_id"""
  }

  /** PageRank oracle: re-derive [[operators.Graph.linkEdges]]'s synthetic
    * multigraph (same md5-60 target hash onto the contiguous doc_id
    * domain), then unroll [[operators.Graph.Iterations]] damped rounds of
    * the SAME integer micro-unit arithmetic — `150000 +
    * (85 · Σ floor(r/out_degree)) div 100` — as a CTE chain. Positive
    * BIGINTs throughout, so DuckDB `//` and Spark `div` agree exactly.
    */
  private def pageRankOracleSql: String = {
    val k = operators.Graph.OutDegree
    val iters = operators.Graph.Iterations
    val base = operators.Graph.BaseMicro
    val steps = (1 to iters).map { i =>
      s"""i$i AS (
           SELECT e.dst AS id, sum(r.r // $k) AS s
           FROM edges e JOIN r${i - 1} r ON e.src = r.id GROUP BY e.dst),
         r$i AS (
           SELECT d.doc_id AS id,
             CAST($base + (85 * coalesce(i.s, 0)) // 100 AS BIGINT) AS r
           FROM documents d LEFT JOIN i$i i ON d.doc_id = i.id)"""
    }.mkString(",\n       ")
    s"""WITH b AS (SELECT min(doc_id) AS lo, count(*) AS n FROM documents),
         edges AS (
           SELECT doc_id AS src,
             lo + (${duckMd5_60(
      "'edge:' || CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)")}
               % n) AS dst
           FROM documents, b, UNNEST(generate_series(1, $k)) AS t(j)),
         r0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS r
                FROM documents),
         $steps
         SELECT id AS doc_id, r AS rank_micro FROM r$iters ORDER BY doc_id"""
  }

  /** (c_id, [centroid], c²) VALUES rows for the kmeans_fixed_assign
    * oracle — the same driver-side constants the Spark entry compiles
    * into its assignment expression.
    */
  private def kmeansCentroidValues(): String =
    graft.operators.Clustering.fixedCentroids(16).zipWithIndex.map { case (c, id) =>
      s"($id, [${c.mkString(", ")}], ${c.map(x => x * x).sum})"
    }.mkString(",\n           ")

  /** Shared CTE chain for the int8 gates (`embed_quantize_i8`,
    * `ann_i8_topk`): per-dimension scales derived from the corpus
    * max-abs, then one (vec_id, i, q8) row per code — the same
    * clamp(floor(x/s + 0.5)) arithmetic
    * [[operators.Similarity.quantizeI8]] fuses into its scan.
    */
  private def i8Ctes: String =
    """WITH dims AS (
         SELECT i, CAST(max(abs(embedding[i])) AS DOUBLE) / 127 AS s
         FROM embeddings, UNNEST(generate_series(1, 64)) t(i)
         GROUP BY i),
       q AS (
         SELECT vec_id, i,
           CASE WHEN s = 0 THEN 0 ELSE
             CAST(greatest(-127.0, least(127.0,
               floor(CAST(embedding[i] AS DOUBLE) / s + 0.5))) AS INT)
           END AS q8
         FROM embeddings, UNNEST(generate_series(1, 64)) t(i)
         JOIN dims USING (i))"""

  /** (sub, c_id, [centroid], c²) VALUES rows for the pq_codes oracle —
    * the same codebooks the Spark entry compiles into its argmin.
    */
  private def pqCentroidValues(): String =
    Similarity.pqCodebooks(m = 4, k = 16, subDim = 16).zipWithIndex.flatMap {
      case (book, j) => book.zipWithIndex.map { case (c, p) =>
        s"($j, $p, [${c.mkString(", ")}], ${c.map(x => x * x).sum})"
      }
    }.mkString(",\n           ")
}
