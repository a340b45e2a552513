package graft.operators

import graft.Engine.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication suite over the `documents` table — the
  * large-scale-training-pipeline extensions (SURVEY.md §7.2-M6). The
  * reference has no dedup machinery at all; these are designed Spark-first
  * for the 100 TB case:
  *
  *  - exact dedup is one hash-shuffle on the text (or its digest);
  *  - n-gram Jaccard is exact but inherently candidate-quadratic — it is
  *    the *correctness oracle* for the scalable paths (measured: on a
  *    10×-replicated dup-dense corpus, `graft.Stress`, the exact path
  *    takes 5× the MinHash-LSH time and the gap widens quadratically
  *    with duplicate density — never run it as the production path);
  *  - MinHash+LSH is the scale path: cost = O(docs × signature) plus a
  *    band-bucket shuffle whose fan-out is controlled by band count, never
  *    an all-pairs join;
  *  - SimHash gives constant-size fingerprints with a banded hamming join.
  *
  * All shingling is word-level 3-grams over whitespace-split tokens, the
  * same tokenization as workload A (`mj_exe/wordcount_maple.go:3-10`).
  */
object Dedup {

  /** One row per (doc_id, shingle) OCCURRENCE — shared tokenize/explode
    * body for the two views below. `private[graft]` (not local): the
    * streaming decontamination path builds its broadcast hash set from
    * THIS expression, so batch and stream can never drift apart on
    * tokenization.
    */
  private[graft] def rawShingles(docs: DataFrame, n: Int): DataFrame = {
    val toks = TextAnalysis.whitespaceTokens(col("text"))
    docs
      .select(col("doc_id"), toks.as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(w) - $n), i -> concat_ws(' ', slice(w, i + 1, $n)))"))
        .as("shingle"))
  }

  /** Word n-gram shingles, distinct per doc: (doc_id, shingle). Built from
    * codegen'd higher-order functions — no UDF in the hot path.
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    rawShingles(docs, n).distinct()

  /** (doc_id, h): NON-distinct 64-bit shingle hashes per doc — the
    * native-kernel twin of `rawShingles + xxhash64(shingle)`
    * ([[graft.functions.ShingleHashes]]: one tokenization pass, no
    * per-shingle string/array allocation, no interpreted HOF lambda;
    * hash values bit-identical by construction and spec-pinned).
    */
  private[graft] def rawShingleHashes(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.ShingleHashes.shingleHashes(col("text"), n)).as("h"))

  /** (doc_id, h): distinct 64-bit shingle hashes per doc — the form every
    * dedup path actually consumes. Hashing BEFORE the distinct means the
    * dedup shuffle carries 8-byte keys, never the ~n-word strings
    * (collision odds ~(#shingles)²/2⁶⁴ — the same negligible bound the
    * downstream set-intersections already accept).
    */
  private[graft] def shingleHashes(docs: DataFrame, n: Int): DataFrame =
    rawShingleHashes(docs, n).distinct()

  /** Exact dedup: group identical text by its 128-bit md5 digest, keep
    * the smallest doc_id as the canonical copy. Grouping on the digest —
    * not the text — is the 100 TB shape: the dedup shuffle carries 32
    * hex chars per row instead of whole documents (collision odds
    * ~(#docs)²/2¹²⁸ — no engine at any scale hits that). The oracle
    * groups by the identical DuckDB md5, so the gate covers the digest
    * path itself, not a stand-in.
    */
  def exactDedupDocs(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  /** Exact Jaccard verification of a candidate pair set against the full
    * shingle-hash sets — shared by the LSH path and the DF-capped exact
    * path: whatever generated the candidates, every REPORTED value is
    * the true Jaccard over ALL shingles (candidate generation can only
    * cost recall, never correctness).
    */
  private def verifiedPairs(candidates: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame =
    verifiedPairsSided(candidates, sh, sh, threshold)

  /** Exact-Jaccard verification with each pair side resolved against its
    * OWN shingle table — doc_a ids against `shA`, doc_b ids against
    * `shB`. For self-joins both sides are the same table; for
    * delta-vs-corpus screens they differ, and keeping them separate means
    * an id present in both tables (a re-crawl of an existing doc_id)
    * still sizes each side from the right document instead of merging
    * the two shingle sets.
    */
  private def verifiedPairsSided(candidates: DataFrame, shA: DataFrame,
      shB: DataFrame, threshold: Double): DataFrame =
    gridVerifiedCounts(candidates, docSets(shA), docSets(shB),
      // size-ratio prune before the merge kernel: |∩| ≤ min(na, nb), so
      // jac ≤ min/max and a pair with min/max < t is provably below the
      // jac ≥ t filter too (rounding is monotone, so the double compare
      // preserves the exact-arithmetic implication) — 94% of
      // stress-corpus candidates die on sizes alone, before the merge.
      sizeRatioMin = Some(threshold))
      .withColumn("jac", col("n_inter") / (col("na") + col("nb") - col("n_inter")))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jac"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Per-doc sorted signature sets: hash sets sorted ONCE per document
    * (O(s log s), amortized over every candidate pair the doc appears
    * in) so the per-pair verify is the zero-allocation two-pointer
    * merge — see the ArrayIntersect GC analysis in
    * [[graft.functions.SortedIntersectCount]].
    */
  private def docSets(sh: DataFrame): DataFrame = sh.groupBy(col("doc_id"))
    .agg(array_sort(collect_set(col("h"))).as("hs"),
      count(lit(1)).as("n_sh"))

  /** Grid side B: candidate pairs land in one of B² cells keyed by
    * (hash-bucket(doc_a), hash-bucket(doc_b)), so a doc's signature is
    * demanded by at most B cells per side. Sizing: per-cell build memory
    * is ≤ |corpus signatures|/B per side (shrinks as B grows) while
    * worst-case replica traffic is ≤ 2B×|corpus signatures| (grows as B
    * grows, but only on dup-saturated corpora — demand-driven replicas
    * mean a doc in k pairs ships ≤ min(B, k) copies). The default B=8 →
    * 64 cells, enough tasks to keep local[32] busy and ≥2 orders of
    * magnitude below the per-pair traffic it replaces at stress factors.
    *
    * B is DERIVED from the signature tables' Catalyst size estimates by
    * default, overridable by the session conf `spark.graft.dedup.gridB`,
    * because per-cell build memory is the one term here that GROWS with
    * corpus size: the cell hashmaps are plain on-heap
    * `java.util.HashMap`s — unspillable — so at 100 TB a B sized for the
    * stress box would not fit an executor. Sizing rule: B ≈ 2 × corpus
    * signature bytes / target cell bytes, i.e. growing the corpus 10×
    * means growing B 10× to hold per-cell memory constant, at the price
    * of 10× replica traffic — which stays LINEAR in corpus size
    * (slope 2B).
    *
    * Why PLAN STATS and not a count: deriving B from a counted
    * `sum(n_sh)` was built and rejected in round 17 — the count is a
    * separate action that re-runs the whole shingle shuffle once more
    * per gate. `optimizedPlan.stats.sizeInBytes` costs NO job, and is
    * measured linear and stably proportional to the true signature
    * volume on this fixture family (est/true ≈ 0.105 at 1×, 20× and
    * 50× — calibration in STRESS.md round 18). The derivation is only
    * choosing a power-of-two dial, and the cogroup still ENFORCES the
    * real budget at run time: each cell tracks the signature bytes it
    * holds and fails loudly past `spark.graft.dedup.maxCellSigBytes`
    * (default 4 GiB, both maps combined) with the remedy — raise
    * gridB — in the message, so a mis-estimated B is a named error,
    * never an opaque executor OOM.
    *
    * Calibration of the target (see the round-17/18 50× A/B,
    * `STRESS50_GRIDB{8,16}.json`): verify-bound screens (containment /
    * jaccard / prefix) run 1.4–2.1× faster at B=16 than B=8 at 50×
    * with ~18% less heap, while the screen-bound minhash pays ~14% for
    * B=16 — inside the box-variance band, and the conf override is the
    * dial for screen-bound-heavy deployments. The 2.8 MB estimate-unit
    * target lands the derived B at 8 (the r17 default) through 20× and
    * 16 at 50× — both measured-optimal. Results are B-invariant
    * (spec-pinned); B moves only performance.
    */
  private[graft] val GridCellTargetEstBytes = 2800000L

  /** Ceiling above which a plan-stats size estimate is treated as
    * MISSING rather than huge: a lineage containing an RDD scan (or a
    * join Catalyst can't bound) reports `defaultSizeInBytes` =
    * Long.MaxValue (the hazard documented at the union-find fast path
    * below), and deriving from that garbage would silently buy the
    * 2·4096× replication tax. 2^50 B (1 PiB of SIGNATURES — ~100×
    * beyond what a 100 TB corpus produces) is comfortably above every
    * genuine estimate and ~8000× below the sentinel, so no real corpus
    * can trip it.
    */
  private[graft] val GridEstSaneCeiling = BigInt(1L << 50)

  private[graft] def gridB(spark: SparkSession, sa: DataFrame, sb: DataFrame): Int = {
    val conf = spark.conf.get("spark.graft.dedup.gridB", "auto")
    if (conf != "auto") {
      val b = conf.toInt
      require(b >= 1 && b <= 4096,
        s"spark.graft.dedup.gridB must be in [1, 4096], got $b")
      b
    } else {
      // BigInt end to end until validated — a defaultSizeInBytes
      // (Long.MaxValue) summand would wrap `.toLong` to an arbitrary
      // negative and silently floor B to 8 in exactly the huge-corpus
      // regime the derivation exists for (r18 ADVICE)
      val estBig = sa.queryExecution.optimizedPlan.stats.sizeInBytes +
        sb.queryExecution.optimizedPlan.stats.sizeInBytes
      if (estBig <= 0 || estBig > GridEstSaneCeiling) {
        // stats missing/garbage → the floor-8 default, LOUDLY: the
        // runtime maxCellSigBytes budget still backstops a true
        // under-grid with a named error + remedy
        System.err.println(s"[graft] gridB: plan-stats estimate $estBig B " +
          s"is outside (0, $GridEstSaneCeiling] — stats are missing or " +
          "garbage (RDD-scan lineage reports defaultSizeInBytes); " +
          "falling back to B=8. Set spark.graft.dedup.gridB explicitly " +
          "for this input.")
        8
      } else {
        val est = estBig.toLong // safe: validated <= 2^50
        val b = derivedGridB(est)
        System.err.println(s"[graft] gridB auto-derived: $b " +
          s"(signature size estimate $est B, target " +
          s"$GridCellTargetEstBytes B/cell-side)")
        b
      }
    }
  }

  /** The pure sizing arithmetic behind the auto-derived grid side:
    * next power of two of ceil(2·estBytes / target), floored at 8
    * (the r17 default — estimates below the target never shrink the
    * grid) and clamped at 4096 (the conf's own upper bound). Pinned by
    * DedupSpec so the calibration can't drift silently.
    */
  private[graft] def derivedGridB(estBytes: Long): Int = {
    val want = math.max(8L,
      (estBytes * 2 + GridCellTargetEstBytes - 1) / GridCellTargetEstBytes)
    math.min(4096L, java.lang.Long.highestOneBit(want) *
      (if (java.lang.Long.bitCount(want) > 1) 2L else 1L)).toInt
  }

  private def maxCellSigBytes(spark: SparkSession): Long = {
    val v = spark.conf.get("spark.graft.dedup.maxCellSigBytes",
      (4L << 30).toString).toLong
    require(v > 0, s"spark.graft.dedup.maxCellSigBytes must be positive, got $v")
    v
  }

  /** One doc's sorted-signature row exploded to its B grid cells: the
    * row side (doc_a resolution) owns grid row bucket(doc), the column
    * side (doc_b) owns grid column bucket(doc). `xxhash64` here and in
    * the pair-cell expression are the same function with the same
    * default seed, so a pair and its two signatures always meet.
    */
  private def replicaCells(sets: DataFrame, tag: Int,
      rowSide: Boolean, b: Int): DataFrame = {
    val cells =
      if (rowSide) s"transform(sequence(0, ${b - 1}), j -> pmod(xxhash64(doc_id), $b) * $b + j)"
      else s"transform(sequence(0, ${b - 1}), i -> i * $b + pmod(xxhash64(doc_id), $b))"
    sets.select(explode(expr(cells)).as("cell"), lit(tag).as("tag"),
      col("doc_id").as("doc"), col("hs"), col("n_sh"))
  }

  /** Exact intersection counts for a candidate pair set with signature
    * shuffle ONCE PER (grid cell, doc) — never per pair.
    *
    * The r15 verify shape joined (pair → ha) then re-exchanged that
    * array-carrying stream by doc_b for the hb join, so signature bytes
    * crossed the wire once per CANDIDATE PAIR: spill grew linearly with
    * pair volume (7.6 → 45.6 GB across 20×→50×, STRESS_CLIFF50), the
    * one wrong-direction curve in the suite — pair volume is quadratic
    * in duplication factor while the corpus is linear.
    *
    * Here every pair lands in one of B² grid cells keyed by
    * (bucket(doc_a)·B + bucket(doc_b)); signatures reach their cells by
    * DEMAND-DRIVEN replication (distinct (cell, doc) ids joined once
    * against the per-doc sets table), so each signature ships
    * min(B, #cells that actually reference it) times — linear in corpus
    * size with slope ≤ B, regardless of pair volume — and the pair
    * stream crosses exactly one shuffle, as bare ids. Per cell, a typed
    * `cogroup` builds two doc→signature hashmaps (≤ |signatures|/B per
    * side) and streams the pairs through the zero-allocation merge
    * kernel ([[graft.functions.SortedIntersectCount.merge]]).
    *
    * Why `cogroup` and not two co-partitioned relational joins: the
    * pure-relational spelling (repartition both sides by the cell,
    * shuffled-hash join on (cell, id) under the subset-key rule) is
    * defeated by EnsureRequirements — a user repartition that is the
    * direct child of a join is REWRITTEN to the join's full-key
    * partitioning (verified on this Spark: `repartition(64, cell)`
    * becomes `hashpartitioning(cell, doc_a, conf.numShufflePartitions)`
    * with its REPARTITION_BY_NUM origin preserved), so the second join
    * re-exchanges the array-carrying stream per pair again. The typed
    * cogroup is the public API whose contract IS "both sides grouped by
    * this key in one task": sort-based, so the big side spills bare ids
    * (24 B rows), never signatures.
    *
    * `sizeRatioMin`: optional min(na,nb)/max(na,nb) prune evaluated
    * map-side from the hashmaps BEFORE the merge. Sound for Jaccard
    * thresholds: |∩| ≤ min gives jac ≤ min/max exactly, and double
    * rounding is monotone, so no pair passing a downstream
    * `jac >= t` filter can be pruned. Containment passes None — its
    * whole point is the asymmetric (low size-ratio) pairs.
    *
    * Output: (doc_a, doc_b, na, nb, n_inter), one row per candidate
    * pair present in both sets tables (inner-join semantics). Same
    * counts as the r15 join shape — a pure restructure.
    */
  private def gridVerifiedCounts(candidates: DataFrame, sa: DataFrame,
      sb: DataFrame, sizeRatioMin: Option[Double]): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val b = gridB(spark, sa, sb)
    val cellBudget = maxCellSigBytes(spark)
    def bucket(c: Column): Column = pmod(xxhash64(c), lit(b.toLong))
    // The candidate table feeds THREE consumers (the cogroup stream and
    // both demand sides); AQE's ReuseExchange unifies them into ONE
    // screen evaluation because every screen is literal-only — see
    // [[derivedDfCap]]'s eager-evaluation note for why the cap must NOT
    // be a scalar subquery (subqueries never canonicalize equal, which
    // silently re-ran the capped screens once per consumer).
    val pairs = candidates.select(
      (bucket(col("doc_a")) * b + bucket(col("doc_b"))).as("cell"),
      col("doc_a"), col("doc_b"))
    // BLIND replication: each doc's signature ships to its B row cells
    // (tag 0, for the doc_a side) and its B column cells (tag 1) —
    // exactly 2B copies, period. A demand-driven variant (replicate
    // only to cells whose pairs reference the doc) was built and
    // measured first: its distinct-(cell, doc) pass re-consumes the
    // candidate table, and because the screens' subtrees stop
    // canonicalizing equal after column pruning (and never did for
    // subquery-bearing screens), each demand side re-ran the WHOLE
    // candidate screen — 2 extra screen evaluations per gate, +10 GB
    // spill at the 20× probe. Blind replication makes the pair stream's
    // only consumer the cogroup itself, so every screen evaluates once;
    // the price, ≤ 2B× the corpus signature volume, is linear in corpus
    // size with a session-conf dial (spark.graft.dedup.gridB — sizing
    // rule and the per-cell run-time bound in [[gridB]]'s scaladoc) and
    // at the 20× probe was the SAME bytes as the demanded set
    // (saturated corpora demand all B cells anyway).
    val reps = replicaCells(sa, tag = 0, rowSide = true, b)
      .unionByName(replicaCells(sb, tag = 1, rowSide = false, b))
      .as[(Long, Int, Long, Array[Long], Long)]
    val prune = sizeRatioMin
    pairs.as[(Long, Long, Long)].groupByKey(_._1)
      .cogroup(reps.groupByKey(_._1)) { (cell, ps, rs) =>
        val ma = new java.util.HashMap[Long, (Array[Long], Long)]
        val mb = new java.util.HashMap[Long, (Array[Long], Long)]
        // Loud per-cell memory bound: the maps are unspillable on-heap
        // state (~2/B of corpus signature bytes per cell), so an
        // undersized B must fail with the dial named, not as an
        // executor OOM three stages later. 8 B per signature long +
        // ~48 B of HashMap/entry/array-header overhead per doc.
        var cellBytes = 0L
        rs.foreach { case (_, tag, doc, hs, n) =>
          cellBytes += 8L * hs.length + 48
          if (cellBytes > cellBudget) throw new IllegalStateException(
            s"grid-verify cell $cell holds > $cellBudget signature bytes " +
              "(spark.graft.dedup.maxCellSigBytes); per-cell memory is " +
              "~2/B of corpus signatures - raise spark.graft.dedup.gridB " +
              s"(currently $b) to shrink cells")
          (if (tag == 0) ma else mb).put(doc, (hs, n))
        }
        ps.flatMap { case (_, da, db) =>
          val ra = ma.get(da)
          val rb = mb.get(db)
          if (ra == null || rb == null) Iterator.empty
          else {
            val (na, nb) = (ra._2, rb._2)
            if (prune.exists(t => math.min(na, nb).toDouble / math.max(na, nb) < t))
              Iterator.empty
            else Iterator((da, db, na, nb,
              graft.functions.SortedIntersectCount.merge(ra._1, rb._1)))
          }
        }
      }
      .toDF("doc_a", "doc_b", "na", "nb", "n_inter")
  }

  /** Capped candidate generation: ONE groupBy(h) produces each shingle's
    * (bounded) posting list and the ordered pairs expand IN the array —
    * replaces the df-aggregate + rare-join + self-join spelling, which
    * cost three extra corpus scans and shuffled the posting rows twice
    * more. The cap bounds the expansion at cap·(cap−1)/2 pairs per
    * shingle; hotter shingles are skipped (recall-only — survivors are
    * re-verified over ALL shingles). `cap` is a Column so a fixed
    * literal and the corpus-derived scalar subquery share one plan shape.
    */
  private def cappedCandidates(sh: DataFrame, cap: Column): DataFrame = sh
    .groupBy(col("h"))
    .agg(array_sort(collect_set(col("doc_id"))).as("ds"))
    .filter(size(col("ds")) >= 2 && size(col("ds")).cast("long") <= cap)
    .select(explode(expr(
      """flatten(transform(ds, (a, i) ->
        |  transform(slice(ds, i + 2, size(ds) - i - 1),
        |    b -> struct(a AS doc_a, b AS doc_b))))""".stripMargin)).as("p"))
    .select(col("p.doc_a"), col("p.doc_b"))
    .distinct()

  /** Corpus-relative df cap, the MINIMUM of two corpus-derived bounds
    * (floored at 2):
    *
    *  - the QUANTILE bound — the smallest df covering ≥ `permille`/1000
    *    of DISTINCT shingles: candidate generation skips exactly the
    *    hottest (1 − permille/1000) slice of the shingle vocabulary, the
    *    quadratic outliers (boilerplate headers, license blocks),
    *    wherever the corpus puts them. On a natural corpus this is the
    *    binding bound and it admits essentially every true pair.
    *  - the BUDGET bound — the largest df keeping the cumulative
    *    candidate expansion Σ ns(df)·df(df−1)/2 within `pairsPerDoc` ×
    *    #docs: on an adversarial dup-saturated corpus (every doc in a
    *    large near-dup family — the 10× stress shape) the df BULK shifts
    *    up and a pure quantile would admit it all; the budget bound
    *    caps total candidate volume LINEAR in corpus size regardless of
    *    the histogram's shape, trading recall exactly as a df cap always
    *    does (survivors re-verified over ALL shingles; the scale path
    *    for dup-saturated corpora remains [[minhashLsh]]).
    *
    * Cost: one aggregate over the (already-needed) shingle table into a
    * df HISTOGRAM — rows = distinct df LEVELS, ≤ max document frequency
    * and in practice a log-scale handful; the running sums over it are
    * a [[BoundedGlobal]] pass (loud bound, no unpartitioned window) —
    * plus one count over the (narrow) documents table for the budget.
    * All-integer arithmetic throughout → the DuckDB oracle derives the
    * identical cap from the identical stats.
    *
    * Evaluated EAGERLY to a Long (one 1-row driver pull — the stats-job
    * shape a production pipeline runs before its main query), NOT as a
    * scalar subquery: subquery expressions never canonicalize equal, so
    * a subquery-bearing candidate screen feeding several consumers
    * (the grid verify's pair stream + two demand sides) defeated AQE's
    * ReuseExchange and silently re-ran the whole screen once PER
    * consumer — measured at the 20× probe as 3 full evaluations,
    * 7–10 s each. With the cap a literal, the subtrees canonicalize
    * identically and the screen runs once.
    */
  private[graft] def derivedDfCap(sh: DataFrame, docs: DataFrame,
      permille: Int = 999,
      pairsPerDoc: Long = JaccardPairsPerDoc): Long = {
    require(permille >= 1 && permille <= 1000, s"bad permille $permille")
    require(pairsPerDoc > 0, s"bad pairsPerDoc $pairsPerDoc")
    val budget = docs.select(
      (count(lit(1)) * pairsPerDoc).as("b")).head().getLong(0)
    val hist = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .groupBy(col("df")).agg(count(lit(1)).as("ns"))
      .withColumn("__pairs", expr("ns * (df * (df - 1) div 2)"))
    val totNs = hist.agg(sum(col("ns")).as("tot_ns"))
    val cum1 = BoundedGlobal.withPrefixSum(hist, Seq(col("df")), "ns",
      "cum_ns", includeCurrent = true, maxRows = 100000000L,
      "derivedDfCap df histogram")
    BoundedGlobal.withPrefixSum(cum1, Seq(col("df")), "__pairs",
        "cum_pairs", includeCurrent = true, maxRows = 100000000L,
        "derivedDfCap pair budget")
      .crossJoin(broadcast(totNs))
      .agg(greatest(least(
          coalesce(min(when(col("cum_ns") * 1000 >= col("tot_ns") * permille,
            col("df"))), lit(1L)),
          coalesce(max(when(col("cum_pairs") <= budget, col("df"))), lit(1L))),
        lit(2L)).as("cap"))
      .head().getLong(0)
  }

  /** Candidate-expansion budget per document for the derived df cap —
    * sized so the budget bound stays NON-binding on natural corpora
    * (where the quantile bound governs) and binds only when duplication
    * saturates the corpus.
    */
  val JaccardPairsPerDoc = 1000L

  /** [[jaccardPairs]] with the df cap DERIVED from the corpus's own
    * shingle-df histogram ([[derivedDfCap]]) instead of a fixed
    * constant — the production spelling the gated `dedup_jaccard` entry
    * runs. On the driver fixtures the derived cap admits every true pair
    * (pinned equal to the uncapped pair set in DedupSpec).
    */
  def jaccardPairsAdaptive(docs: DataFrame, threshold: Double, n: Int = 3,
      permille: Int = 999,
      pairsPerDoc: Long = JaccardPairsPerDoc): DataFrame = {
    val sh = shingleHashes(docs, n)
    verifiedPairs(
      cappedCandidates(sh, lit(derivedDfCap(sh, docs, permille, pairsPerDoc))),
      sh, threshold)
  }

  /** Exact n-gram Jaccard near-dup pairs: self-join on distinct shingles,
    * count the intersection per pair, Jaccard = |∩| / (|A|+|B|-|∩|).
    * Candidate fan-out is bounded by shingle document-frequency; at scale
    * pass `maxDf` — candidate generation then skips shingles present in
    * > maxDf docs (the self-join's quadratic hot keys) and survivors are
    * re-verified over ALL shingles via [[verifiedPairs]]: a pair whose
    * entire overlap is ubiquitous shingles may be missed (one-sided,
    * like LSH recall) but every reported value is the true Jaccard.
    * Jaccard is a ratio of exact ints → bit-identical in any engine.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double, n: Int = 3,
      maxDf: Option[Int] = None): DataFrame = {
    // every shuffle (distinct, self-join, sizes) runs on 8-byte hashes
    val sh = shingleHashes(docs, n)
    maxDf match {
      case Some(cap) =>
        verifiedPairs(cappedCandidates(sh, lit(cap.toLong)), sh, threshold)
      case None =>
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
        val a = sh.select(col("doc_id").as("doc_a"), col("h"))
        val b = sh.select(col("doc_id").as("doc_b"), col("h"))
        val inter = a.join(b, Seq("h"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_inter"))
        inter
          .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"))
          .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"))
          .withColumn("jac", col("n_inter") / (col("na") + col("nb") - col("n_inter")))
          .filter(col("jac") >= threshold)
          // emit rounded (6 dp) so the value is engine-portable; the filter
          // ran on the exact ratio, same as the oracle's WHERE clause.
          .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jac"))
          .orderBy(col("doc_a"), col("doc_b"))
    }
  }

  /** Train/eval split-leakage audit — the check every pipeline must run
    * AFTER splitting and deduping: a near-dup pair whose two docs landed
    * in DIFFERENT splits is eval contamination that per-split dedup can
    * never see (each split is internally clean; the leak is across the
    * boundary). Emits every cross-split near-dup pair with both split
    * labels — empty output is the release criterion, and a non-empty one
    * is the exact work-list for quarantine (the grouped `group_split`
    * assignment exists precisely to make this list empty by
    * construction).
    *
    * Scale shape — one exact prefix screen ([[jaccardPairsPrefix]] —
    * EXACT, zero recall loss) in the audit's own plan, and both split
    * labels derive IN-ROW from the pair's own ids via
    * [[Sampling.splitOf]] — the same md5 bucket scalar the assignment
    * gate uses — so the audit adds ZERO joins and zero shuffles beyond
    * the screen. Threshold as the family's exact rational (default 4/5,
    * the `dedup_prefix` gate's).
    */
  def splitLeakAudit(docs: DataFrame, weights: Seq[Double],
      names: Seq[String], tNum: Long = 4, tDen: Long = 5,
      salt: String = "split:"): DataFrame =
    nearDupPairs(docs, tNum, tDen)
      .withColumn("split_a", Sampling.splitOf(col("doc_a"), weights, names, salt))
      .withColumn("split_b", Sampling.splitOf(col("doc_b"), weights, names, salt))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
        col("jac"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** PREFIX-FILTERED exact Jaccard join — the AllPairs/PPJoin candidate
    * screen (Bayardo et al. WWW'07; Xiao et al. WWW'08), the third and
    * strongest point on the exact-dedup cost/recall curve:
    *
    *  - [[jaccardPairs]] (uncapped): exact, but candidate volume is
    *    Σ_h df(h)² — quadratic on every hot shingle;
    *  - [[jaccardPairsAdaptive]] (df cap): linear-bounded volume, but
    *    one-sided recall loss on pairs whose entire overlap is hot
    *    shingles;
    *  - THIS: exact — ZERO recall loss — with candidate volume
    *    Σ_h pdf(h)² over PREFIX document frequencies only.
    *
    * Prefix-filter lemma: order the shingle universe by any global total
    * order (here ascending global df, ties by hash — rarest first, which
    * makes prefixes maximally selective). If J(A,B) ≥ t then
    * |A∩B| ≥ t·|A∪B| ≥ t·max(|A|,|B|), so the FIRST common shingle (in
    * that order) sits within the first |x| − ⌈t·|x|⌉ + 1 shingles of
    * BOTH docs: any qualifying pair collides inside the prefixes, and
    * shingles outside a doc's prefix generate no candidates at all. A
    * boilerplate header shared by a million docs costs nothing unless it
    * is among a doc's rarest shingles — exactly the docs for which it is
    * discriminative.
    *
    * The threshold arrives as a RATIONAL (`tNum`/`tDen`) so the prefix
    * length is exact integer arithmetic — `⌈t·n⌉` via
    * `(n·tNum + tDen − 1) div tDen`. A double `ceil` that rounded up on
    * a 0.8·5-style boundary would shorten a prefix and silently drop a
    * true pair; with integers the bound is provable, and the gated
    * entry's oracle is the full UNCAPPED exact pair set (the oracle
    * DuckDB can state independently — it never needs to reproduce the
    * xxhash64 prefix order), so a single dropped pair hash-mismatches.
    *
    * 100 TB shape: two extra narrow shuffles over the (doc_id, h) table
    * (df join + per-doc rank — the rank window is PARTITIONED by doc_id,
    * bounded by doc shingle count), then the self-join runs on prefix
    * rows only (~(1−t) of the corpus shingle volume, df-skewed toward
    * rare keys). Verification is [[verifiedPairsSided]] over candidates
    * only, same as every other screen.
    */
  def jaccardPairsPrefix(docs: DataFrame, tNum: Long, tDen: Long,
      n: Int = 3): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold must be a rational in (0, 1], got $tNum/$tDen")
    val sh = shingleHashes(docs, n)
    val dfr = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // The prefix table feeds BOTH sides of the candidate self-join. Left
    // INLINE deliberately: the two sides canonicalize to the same
    // exchange, so AQE's ReuseExchange runs the df-join + window sort
    // once at runtime — measured faster than a localCheckpoint barrier
    // (2.1 s vs 2.8 s at sf0.1), which pays materialization without
    // saving work. (Unlike the PQ/RP indexes, nothing here is an
    // expression CollapseProject could fold into the probe side — the
    // hazard that forced checkpoints there.) In a warehouse deployment
    // this is the persisted prefix-index table.
    val prefix = sh
      .join(dfr, Seq("h"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
      .withColumn("n_sh", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("rnk") <=
        expr(s"n_sh - ((n_sh * $tNum + ${tDen - 1}) div $tDen) + 1"))
      .select(col("doc_id"), col("h"), col("rnk"), col("n_sh"))
    val candidates = prefix.select(col("doc_id").as("doc_a"), col("h"),
        col("rnk").as("rnk_a"), col("n_sh").as("na"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("h"),
        col("rnk").as("rnk_b"), col("n_sh").as("nb")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      // POSITIONAL filter (the PPJoin refinement, Xiao et al. WWW'08),
      // applied per match occurrence BEFORE the pair distinct — at the
      // 20× probe the occurrence stream (44 M rows), not the verify,
      // owned the candidate path's spill. Lossless by the same order
      // argument as the prefix lemma: for a TRUE pair (jac ≥ t), its
      // FIRST common shingle in the global (df, h) order is a
      // prefix-prefix match (prefix lemma) with the MINIMAL ranks, and
      // every common shingle sits at rank ≥ that match in BOTH docs, so
      // |∩| ≤ min(na − rnk_a, nb − rnk_b) + 1 at that occurrence, while
      // jac ≥ t forces |∩|·(tNum + tDen) ≥ tNum·(na + nb) — all exact
      // Long arithmetic. EXISTS semantics: the pair survives if ANY
      // occurrence passes, and the first-common-shingle occurrence of
      // every true pair passes, so candidate recall is still exactly
      // total. A false pair survives only if its rarest shared shingle
      // sits early in BOTH prefixes — on the stress corpus this kills
      // most of the cross-family occurrence bulk.
      .filter((least(col("na") - col("rnk_a"), col("nb") - col("rnk_b"))
        + 1) * lit(tNum + tDen) >= lit(tNum) * (col("na") + col("nb")))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    verifiedPairs(candidates, sh, tNum.toDouble / tDen)
  }

  /** One-sided CONTAINMENT near-dup pairs: C(A,B) = |A∩B| / min(|A|,|B|)
    * — the asymmetric-duplication detector Jaccard structurally misses.
    * A short doc fully quoted inside a much longer one (snippet inside
    * aggregator page, README inside a vendored tree) has Jaccard
    * ≈ |A|/|B| → 0 but containment 1, so a Jaccard-thresholded dedup
    * keeps both copies; containment is the signal ExactSubstr-style
    * pipelines (Lee et al. 2022) act on at document granularity.
    *
    * Candidates come from the SAME df-capped shared-shingle screen as
    * [[jaccardPairsAdaptive]] (shared rare shingles, corpus-derived cap)
    * — minhash-LSH banding is NOT usable here: it estimates Jaccard, and
    * the asymmetric pairs containment exists to catch are exactly the
    * low-Jaccard ones banding drops. Verification is exact over the full
    * shingle-hash sets; crucially there is NO size-ratio prefilter (the
    * Jaccard verifier's `min/max ≥ t` prune would delete the asymmetric
    * pairs this operator exists to find). Both the containment and the
    * Jaccard of each surviving pair are emitted so a consumer can route
    * symmetric pairs to the normal dedup path and asymmetric ones to
    * span-removal.
    *
    * 100 TB shape: identical to the Jaccard screen — candidate volume is
    * bounded by the derived df cap (budget bound linear in corpus size),
    * shuffles carry 8-byte hashes, and the exact verify joins only the
    * candidate set. Containment is a ratio of exact ints → bit-identical
    * in any engine.
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8, n: Int = 3,
      permille: Int = 999,
      pairsPerDoc: Long = JaccardPairsPerDoc): DataFrame = {
    val sh = shingleHashes(docs, n)
    val candidates =
      cappedCandidates(sh, lit(derivedDfCap(sh, docs, permille, pairsPerDoc)))
    // grid-co-partitioned exact verify — signatures ship once per
    // (cell, doc), never per pair; full rationale at
    // [[gridVerifiedCounts]]. No size-ratio prune by containment
    // semantics (the asymmetric pairs this operator exists to find are
    // exactly the ones a min/max prune would delete).
    gridVerifiedCounts(candidates, docSets(sh), docSets(sh),
      sizeRatioMin = None)
      .withColumn("cont", col("n_inter") / least(col("na"), col("nb")))
      .filter(col("cont") >= threshold)
      .withColumn("jac",
        col("n_inter") / (col("na") + col("nb") - col("n_inter")))
      .select(col("doc_a"), col("doc_b"), round(col("cont"), 6).as("cont"),
        round(col("jac"), 6).as("jac"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** (doc_id, band, band_hash) rows: the minhash signature cut into LSH
    * band keys. Signature: for each i, min over shingles of
    * xxhash64(i, h) — a deterministic keyed rehash, no RNG, overflow-free
    * by construction. All numHashes minima are computed as parallel
    * aggregate columns in ONE groupBy, so the shuffle carries the shingle
    * rows once (with map-side partial min), not numHashes× exploded
    * copies. Band key: hash of the band's row-minhashes, in row order
    * (xxhash64 hashes array elements recursively — no string
    * round-trip).
    */
  private def bandedSignatures(sh: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val minCols = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("h"))).as(s"mh$i"))
    val sig = sh
      .groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"mh$i")): _*).as("sig"))
    sig
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, ${bands - 1}),
            b -> struct(b AS band, xxhash64(b, slice(sig, b * $rows + 1, $rows)) AS band_hash))"""))
        .as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))
  }

  /** MinHash signature + banded LSH near-dup pairs (the 100 TB path).
    *
    * Shingles are hashed to 64-bit with xxhash64; the i-th "permutation" is
    * a plain deterministic rehash h_i(x) = xxhash64(i, x) — xxhash64 mixes
    * its seed-per-column thoroughly, so the 64 rehashes behave as
    * independent hash functions for minwise estimation (the classic
    * (a·x+b) mod p framing would need overflow-safe 122-bit multiply in
    * Long arithmetic for its theoretical guarantee; a keyed rehash gives
    * the same practical recall with one codegen'd call). Each h_i is
    * min-reduced per doc into a signature; signatures are cut into `bands`
    * bands; docs sharing any band hash become candidates (one groupBy on
    * the band key — fan-out controlled, no all-pairs). Candidates are then
    * verified with the exact shingle-set Jaccard, so the final output
    * equals [[jaccardPairs]] at the same threshold whenever LSH recall
    * reaches every true pair (at threshold 0.9, 16 bands × 4 rows: miss
    * probability (1-0.9⁴)¹⁶ ≈ 4e-8; verified empirically in ScalaTest
    * against the exact pairs, at both sf0.01 and sf0.1).
    */
  def minhashLshPairs(docs: DataFrame, threshold: Double, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val sh = shingleHashes(docs, n)
    val banded = bandedSignatures(sh, numHashes, bands)
    val l = banded.select(col("band"), col("band_hash"), col("doc_id").as("doc_a"))
    val r = banded.select(col("band"), col("band_hash"), col("doc_id").as("doc_b"))
    val candidates = l.join(r, Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()

    // exact verification of the candidate set (recompute true Jaccard on
    // shingle-hash sets; 64-bit collisions are negligible at any corpus
    // size we shuffle per-key).
    verifiedPairs(candidates, sh, threshold)
  }

  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshPairs(Tables(spark, dir).documents, threshold = 0.9)

  /** 60-bit SimHash per document: sign-aggregate the bits of each token
    * occurrence's hash (each occurrence contributes ±1 per bit, which sums
    * to the classic ±tf weighting without a distinct/tf pre-pass). All 60
    * bit-sums are parallel aggregate columns in one groupBy — one shuffle
    * of token rows with map-side partial sums, no 60× explode. Emitted as
    * (doc_id, simhash); the companion [[simhashPairs]] finds low-hamming
    * pairs via 4×15-bit banding (a hamming-≤3 pair must agree exactly on
    * ≥1 band).
    *
    * The token hash is the engine-portable 60-bit md5 digest
    * ([[TextAnalysis.md5_60]]) rather than xxhash64, so the whole
    * simhash→banding→hamming pipeline is replicated verbatim by the
    * DuckDB oracle (the fingerprint width only changes constants: 60
    * sign-sums, 15-bit bands).
    *
    * The fingerprint is ONE native codegen expression
    * ([[graft.functions.SimHash60]]) evaluated per row: no token explode,
    * no vocabulary distinct/join, no 60-column groupBy — zero shuffles
    * and zero cross-row state, so there is no vocabulary-size cliff at
    * any corpus scale (the declarative formulation this replaced kept a
    * distinct-token side that web-scale corpora push past any broadcast
    * or memory bound; its bit-exact equivalence to the native expression
    * is pinned by FunctionsSpec).
    */
  val SimhashBits = 60

  def simhash(docs: DataFrame): DataFrame =
    docs
      // keep docs with ≥1 surviving token — NOT length(trim(text)) > 0:
      // SQL trim strips ASCII spaces only, so a tabs/newlines-only doc
      // would pass a length check yet tokenize to nothing, diverging from
      // the vocab-join formulation (and the oracle), which drop it
      .filter(exists(TextAnalysis.whitespaceTokens(col("text")), t => length(t) > 0))
      .select(col("doc_id"),
        graft.functions.SimHash60.simhash60(col("text")).as("simhash"))

  /** Near-dup pairs by SimHash hamming distance ≤ maxHamming, candidate
    * generation via 15-bit band equality (pigeonhole: ham ≤ 3 ⇒ one of the
    * four 15-bit bands matches exactly).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sh = simhash(docs)
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bh", expr("(simhash >> (band * 15)) & 32767"))
    val l = banded.select(col("band"), col("bh"), col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val r = banded.select(col("band"), col("bh"), col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    l.join(r, Seq("band", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sh_a"), col("sh_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Edge-count ceiling for the driver-side union-find fast path
    * (counted on the DIRECTED edge RDD — 2× the pair count). At the
    * ceiling the collected graph is 1M (Long, Long) tuples ≈ 16 MB of
    * payload, ~100 MB transient with JVM boxing + the union-find map —
    * comfortably inside any production driver heap, and solved in
    * milliseconds where even ONE distributed round costs ~1 s of
    * scheduler overhead (measured; and the 10×-stress 440k-edge graph
    * paid ~4-5 s/gate in loop rounds under the old 100k ceiling for a
    * graph the driver solves instantly). A near-dup graph is bounded by
    * duplicate volume, not corpus size, so most real corpora live under
    * this ceiling; past it, the co-partitioned RDD loop takes over
    * unchanged (the 20× stress probe's ~2M-edge graph still exercises
    * it). The same hybrid GraphFrames ships for its CC.
    */
  val SmallGraphMaxEdges = 1000000L

  /** Connected components over a near-dup pair set — the stage that turns
    * PAIRS into duplicate CLUSTERS so exactly one canonical doc survives
    * per group (pairs alone over-delete: a~b and b~c with keep-min drops
    * b and c even though c was only transitively similar). Min-label
    * propagation: every vertex repeatedly takes the minimum label among
    * itself and its neighbors until fixpoint — O(cluster diameter)
    * rounds, and near-dup clusters are near-cliques (diameter ≤ ~2), so
    * it converges in 2-3 rounds regardless of corpus size. Every 5th
    * round `localCheckpoint` truncates the accumulated lineage, bounding
    * the replay cost of cache eviction late in a long (high-diameter)
    * run. Note the trade-off: localCheckpoint data is executor-local, so
    * it does NOT protect against executor loss — after one, checkpointed
    * partitions are unrecoverable and the job fails; a deployment that
    * needs executor-loss resilience in this loop should use reliable
    * `checkpoint()` to durable storage instead.
    *
    * The loop runs on pair RDDs with one shared HashPartitioner — the
    * GraphX iteration pattern, and the one place in this library where
    * dropping below the DataFrame API is the right call: a DataFrame
    * loop re-plans, re-compiles and AQE-schedules 4-5 stages EVERY round
    * (measured ~1 s/round of pure overhead on a 25-edge graph), while a
    * co-partitioned RDD loop is exactly one job per round with no
    * per-round plan rebuilding. Per round, only the (node → label)
    * contributions shuffle (one reduceByKey): the edges join and the
    * combine-with-own-label join are both narrow because edges, labels
    * and the reduceByKey output share the partitioner — the labels side
    * never re-shuffles. Convergence detection rides the same action as
    * the round's materialization via an accumulator (task retries can
    * only over-count, and only the zero/non-zero distinction is used).
    *
    * Input id columns must be integral (doc ids): a silent long cast of
    * string/UUID ids would produce nulls under non-ANSI casting and
    * collapse all such nodes into one bogus component, so non-integral
    * ids are rejected up front.
    *
    * Returns (id, component) where component = min doc_id reachable. If
    * the loop hits `maxIter` before fixpoint (component diameter >
    * maxIter), labels are only partially merged — this logs a warning
    * rather than failing, matching the lenient semantics of the other
    * approximate dedup paths.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 15,
      smallGraphMaxEdges: Long = SmallGraphMaxEdges): DataFrame = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val spark = pairs.sparkSession
    import spark.implicits._
    val idTypes = pairs.schema.fields.take(2).map(_.dataType)
    require(idTypes.forall(Seq(ByteType, ShortType, IntegerType, LongType).contains),
      s"connectedComponents needs integral id columns, got ${idTypes.mkString(", ")}")
    // Size the loop's partitioner to the REAL edge count (RDD stages get
    // no AQE coalescing): a near-dup graph is orders of magnitude smaller
    // than its corpus, and paying 32 tasks × 4 stages × rounds on a
    // hundred-edge graph is pure scheduler overhead. ~20k edges/partition
    // (the joins are CPU-bound, so partitions must stay small enough to
    // keep every core busy — 100k/partition measurably under-parallelized
    // a 440k-edge graph on 24 cores), capped at the session's shuffle
    // parallelism for big graphs.
    val raw = pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .as[(Long, Long)].rdd
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = raw.count()
    if (nEdges <= smallGraphMaxEdges) {
      // driver union-find fast path: the graph provably fits (bound
      // checked on the REAL count, not an assumption), so collect it,
      // solve in-memory, return. Same (id, component=min reachable id)
      // contract as the loop below — DedupSpec pins path equality.
      val collected = raw.collect()
      raw.unpersist(blocking = false)
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) {
          val n = parent.getOrElse(c, c); parent(c) = r; c = n
        }
        r
      }
      collected.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // roots carry the minimum id of their component by construction
      // (unions always point the larger root at the smaller). The result
      // goes back through parallelize, NOT a driver-Seq toDF: a
      // LocalRelation would embed up to ~2M rows in the logical plan
      // (re-serialized into every downstream plan copy), while an RDD
      // scan keeps the plan O(1) and the rows on executors. Stats trade,
      // acknowledged: an RDD scan reports defaultSizeInBytes (huge), so
      // the downstream joins the clustering family documents as
      // "broadcast-able" (survivors anti-join, softDedupWeights/dupCurve
      // left joins) rely on AQE's runtime size-based conversion — which
      // Engine.session always enables. A deployment running with AQE off
      // would plan sort-merge there; if that matters, persist-with-count
      // this result so static stats stay broadcast-eligible.
      val nodes = collected.iterator.map(_._1).toArray.distinct
      val rows = nodes.sorted.map(id => (id, find(id)))
      val nOut = math.max(1, math.min(
        spark.sessionState.conf.numShufflePartitions, rows.length / 100000 + 1))
      return spark.createDataset(
        spark.sparkContext.parallelize(rows.toIndexedSeq, nOut))
        .toDF("id", "component")
    }
    val nParts = math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions,
      (nEdges / 20000L).toInt + 1))
    val part = new HashPartitioner(nParts)
    // (dst → src) both directions, partitioned by dst = the join side key
    val edges = raw.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    edges.foreachPartition(_ => ()) // materialize off the cached raw edges
    raw.unpersist(blocking = false) //   ... then drop the unpartitioned copy
    // initial label of every node = its own id; reduceByKey on the
    // co-partitioned edge RDD is narrow (dedup without a shuffle)
    var labels = edges.mapValues(_ => ())
      .reduceByKey(part, (a, _) => a)
      .mapPartitions(_.map { case (id, _) => (id, id) }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val changedAcc = spark.sparkContext.longAccumulator(s"cc_changed_round_$i")
      // neighbor contributions: narrow join (same partitioner both sides),
      // ONE shuffle to min-combine by target node, then a narrow join back
      // to the old labels — min with own label and change-counting happen
      // in the same fused pass
      val next = edges.join(labels)
        .map { case (_, (src, lbl)) => (src, lbl) }
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        .join(labels)
        .mapPartitions(_.map { case (id, (contrib, own)) =>
          val nl = math.min(contrib, own)
          if (nl != own) changedAcc.add(1)
          (id, nl)
        }, preservesPartitioning = true)
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (i % 5 == 4) next.localCheckpoint()
      next.count() // the round's single action; validates changedAcc
      labels.unpersist(blocking = false)
      labels = next
      converged = changedAcc.value == 0
      i += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents: no fixpoint after $maxIter rounds; labels are partially merged")
    val out = labels.toDF("id", "component")
    edges.unpersist(blocking = false)
    out
  }

  /** Leakage-rate rollup comparing the two split keyings — the release
    * dashboard number behind [[splitLeakAudit]]'s work-list: over the
    * SAME near-dup pair set, how many pairs straddle splits
    * under (a) the doc-keyed assignment (`split_assign`) and (b) the
    * source-grouped assignment (`group_split`), as exact micro-rates.
    * Grouped splitting co-locates SAME-source near-dups by construction
    * (its only guarantee); whether that helps depends on whether the
    * corpus's duplication is source-local — which is exactly what this
    * rollup measures instead of assuming. On the driver fixture it
    * exposes the opposite: near-dups are mostly CROSS-source (85/256
    * pairs leak doc-keyed vs 120/256 source-keyed at sf0.1, because
    * whole sources land in different splits), so for this corpus the
    * right quarantine is the [[splitLeakAudit]] work-list, not
    * re-keying — the decision the dashboard number exists to drive.
    *
    * Scale shape: one prefix screen, two doc_id joins that fetch each
    * side's `source` (the pair side is duplicate-volume-bounded), then
    * ONE pass that labels every pair under both keyings — an in-row
    * two-element explode, so the screen's cogroup runs once — and one
    * 2-group aggregate.
    */
  def splitLeakStats(docs: DataFrame, weights: Seq[Double],
      names: Seq[String], tNum: Long = 4, tDen: Long = 5): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    val withSrc = nearDupPairs(docs, tNum, tDen)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")),
        Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")),
        Seq("doc_b"))
    def labeled(keying: String, a: Column, b: Column, salt: String) =
      struct(lit(keying).as("keying"),
        Sampling.splitOf(a, weights, names, salt).as("split_a"),
        Sampling.splitOf(b, weights, names, salt).as("split_b"))
    withSrc
      .select(explode(array(
        labeled("doc", col("doc_a"), col("doc_b"), "split:"),
        labeled("source", col("src_a"), col("src_b"), "gsplit:"))).as("l"))
      .select(col("l.*"))
      .groupBy(col("keying"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
          .as("n_leaked"))
      .withColumn("leak_micro", expr("n_leaked * 1000000 div n_pairs"))
      .orderBy(col("keying"))
  }

  /** PRODUCTION near-dup pair generation for the clustering family —
    * the prefix-filtered exact screen ([[jaccardPairsPrefix]]), promoted
    * here after the 10×/20× stress comparison: it beats the df-capped
    * adaptive screen 2.4–4× with ZERO recall loss and a tight run
    * spread, and unlike the LSH screen it cannot miss a pair at all
    * (LSH's 4e-8 per-pair miss bound is tiny but nonzero). The LSH and
    * adaptive screens remain first-class as the dedicated
    * `dedup_minhash_lsh` / `dedup_jaccard` gates — they are the
    * oracle/fallback spellings and the scale escape hatch for
    * dup-saturated corpora where even prefix volume grows.
    *
    * Each consumer runs the screen inside its own plan: a gate's time
    * is its own work, and a corpus rewritten mid-session is read fresh.
    * Every consumer reads the pair set exactly once (the clustering
    * reports through [[connectedComponents]], which persists its edge
    * list for its own iterations), so no report pays the screen twice.
    */
  private def nearDupPairs(docs: DataFrame, tNum: Long, tDen: Long): DataFrame =
    jaccardPairsPrefix(docs, tNum, tDen)

  /** End-to-end duplicate clustering: exact prefix-screened near-dup
    * pairs → connected components → one row per cluster with its
    * canonical (minimum) doc_id and member count. Docs in no cluster are
    * implicitly canonical. Threshold arrives as the same tNum/tDen
    * rational (default 9/10) as the sibling entry points.
    */
  def clusters(docs: DataFrame, tNum: Long = 9, tDen: Long = 10,
      smallGraphMaxEdges: Long = SmallGraphMaxEdges): DataFrame =
    connectedComponents(nearDupPairs(docs, tNum, tDen),
      smallGraphMaxEdges = smallGraphMaxEdges)
      .groupBy(col("component").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("cluster_id"))

  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusters(Tables(spark, dir).documents)

  /** The retention side of fuzzy dedup — the doc_ids that SURVIVE: every
    * cluster keeps exactly its canonical (minimum) member, docs in no
    * cluster keep themselves. This is the pipeline's actual output
    * contract (what ships to training); pairs and clusters are its
    * intermediate evidence. Implemented as an anti-join of the corpus
    * against the non-canonical cluster members, so the big side (the
    * corpus) streams through one broadcast-able anti-join — the dropped
    * set is bounded by duplicate volume, not corpus size.
    */
  def survivors(docs: DataFrame, tNum: Long = 9, tDen: Long = 10): DataFrame = {
    val dropped = connectedComponents(nearDupPairs(docs, tNum, tDen))
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    docs.select(col("doc_id"))
      .join(dropped, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** SOFT dedup — the reweighting alternative to dropping: every doc
    * stays in the corpus, but docs in a near-dup cluster of size m
    * carry sampling weight 1/m, so each duplicate FAMILY contributes
    * one doc's worth of training mass (the soft-dedup option recent
    * data-curation work prefers when near-dups still carry distinct
    * long-tail content the hard [[survivors]] cut would lose).
    * Emitted in exact micro units (`1000000 div m` — positive integers,
    * so Spark `div` and DuckDB `//` agree) with the cluster size in the
    * clear; unclustered docs weigh 1.0.
    *
    * Scale shape: [[connectedComponents]] over the exact prefix-screened
    * pair set (everything the clusters gate already bounds), one
    * component-size aggregate, then the corpus streams through two
    * broadcast-able joins keyed on doc_id — the joined side is bounded
    * by duplicate volume, not corpus size.
    */
  def softDedupWeights(docs: DataFrame, tNum: Long = 9,
      tDen: Long = 10): DataFrame = {
    val comp = connectedComponents(nearDupPairs(docs, tNum, tDen))
      .withColumnRenamed("id", "doc_id")
    val sizes = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"))
    docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .join(sizes, Seq("component"), "left")
      .withColumn("n_members", coalesce(col("n_members"), lit(1L)))
      .withColumn("weight_micro", expr("1000000 div n_members"))
      .select(col("doc_id"), col("n_members"), col("weight_micro"))
      .orderBy(col("doc_id"))
  }

  /** Duplication-rate curve — the dataset-card figure that summarizes a
    * corpus's duplication STRUCTURE: for each power-of-two k, how many
    * docs (and what corpus fraction, in exact micro units) live in a
    * near-dup cluster of size ≥ k. k=1 is the whole corpus by
    * definition (a sanity anchor both engines must agree on); the k≥2
    * tail is what dedup policy decisions read — "12% of the corpus is
    * in clusters of 4+" argues differently than the same dup_ratio
    * spread thin over pairs.
    *
    * Scale shape: the clusters pipeline's component sizes joined back
    * (duplicate-volume-bounded), then ONE conditional aggregate over
    * corpus × 6 narrow rows. Zero-count rows are kept (the curve's ks
    * are fixed), so the output is always exactly the k ladder.
    */
  val DupCurveKs: Seq[Long] = Seq(1L, 2L, 4L, 8L, 16L, 32L)

  def dupCurve(docs: DataFrame, tNum: Long = 9, tDen: Long = 10): DataFrame = {
    val comp = connectedComponents(nearDupPairs(docs, tNum, tDen))
      .withColumnRenamed("id", "doc_id")
    val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("m"))
    val perDoc = docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .join(sizes, Seq("component"), "left")
      .withColumn("m", coalesce(col("m"), lit(1L)))
    val total = broadcast(perDoc.agg(count(lit(1)).as("n_total")))
    val ks = broadcast(docs.sparkSession.range(0, DupCurveKs.length)
      .select(expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT))").as("k")))
    perDoc.crossJoin(ks)
      .groupBy(col("k"))
      .agg(sum(when(col("m") >= col("k"), 1L).otherwise(0L)).as("n_docs"))
      .crossJoin(total)
      .withColumn("frac_micro", expr("n_docs * 1000000 div n_total"))
      .select(col("k"), col("n_docs"), col("frac_micro"))
      .orderBy(col("k"))
  }

  /** Lanes for the [[minhashMergeable]] audit — mergeability needs no
    * recall, so 16 suffice (the production signature keeps 64).
    */
  val MinhashAuditLanes = 16

  /** MinHash-signature MERGEABILITY audit — [[Monitoring.hllMergeable]]'s
    * sibling for the dedup index: per-lane min is associative and
    * commutative, so a corpus sharded ANY way can maintain per-shard
    * signatures and merge them by elementwise min — the property that
    * lets a 1000-shard ingest pipeline keep signature state per shard
    * and still answer corpus-wide near-dup queries. The gate computes
    * each doc's signature the SHARDED way (shingles split across
    * `shards` by hash, per-shard lane mins, merged in a second
    * aggregate) and the ORACLE computes the direct unsharded signature:
    * hash equality of the digests IS the mergeability proof, checked
    * cross-engine.
    *
    * Lanes are md5-derived ([[TextAnalysis.md5_60]] over `"i:" ++
    * shingle`) — the engine-portable audit variant of the xxhash64
    * production lanes (which DuckDB cannot evaluate; their merge
    * algebra is identical). Two-level aggregation is the plan shape
    * under audit: partial mins per (doc, shard), final min across
    * shards — the wordcount pattern twice.
    */
  def minhashMergeable(docs: DataFrame, shards: Int = 4): DataFrame = {
    require(shards >= 1, s"need >= 1 shard, got $shards")
    val sh = shingles(docs, 3)
    val laneCols = (0 until MinhashAuditLanes).map(i =>
      min(TextAnalysis.md5_60(concat(lit(s"$i:"), col("shingle"))))
        .as(s"m$i"))
    val mergeCols = (0 until MinhashAuditLanes).map(i =>
      min(col(s"m$i")).as(s"m$i"))
    sh.withColumn("shard", pmod(xxhash64(col("shingle")), lit(shards.toLong)))
      .groupBy(col("doc_id"), col("shard"))
      .agg(laneCols.head, laneCols.tail: _*)
      .groupBy(col("doc_id"))
      .agg(mergeCols.head, mergeCols.tail: _*)
      .select(col("doc_id"), col("m0").as("s0"),
        md5(concat_ws(",", (0 until MinhashAuditLanes)
          .map(i => col(s"m$i").cast("string")): _*)).as("sig_digest"))
      .orderBy(col("doc_id"))
  }

  /** Train/eval decontamination — the overlap-removal pass a training
    * pipeline runs before the data ships: drop from the training split
    * every document sharing at least one word n-gram (default 5) with
    * the held-out evaluation split, so benchmark answers can't leak into
    * training. Returns the surviving train doc_ids.
    *
    * Scale shape: the eval side is tiny (benchmark suites are ~1e5 docs
    * against ~1e10 train docs), so its distinct shingle-hash set is
    * force-broadcast and the train corpus streams through a broadcast
    * semi-join on 8-byte hashes — the 100 TB side is never shuffled.
    * The contaminated-id set is bounded by leak volume, so the final
    * anti-join broadcasts too: the whole pass is one scan of train.
    */
  def decontaminate(train: DataFrame, evalDocs: DataFrame, n: Int = 5): DataFrame = {
    val evalHashes = broadcast(
      rawShingleHashes(evalDocs, n).select(col("h")).distinct())
    val contaminated = rawShingleHashes(train, n)
      .join(evalHashes, Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
    train.select(col("doc_id"))
      .join(contaminated, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Per-eval-document contamination report — the quantified form of
    * [[decontaminate]]: for every EVAL document, how many train
    * documents share at least one word n-gram with it and how many
    * distinct n-grams leak. Survivor lists say what to drop; this
    * report is what a benchmark owner reads to decide whether an eval
    * set is still trustworthy (an eval doc leaked into 5 000 train docs
    * is burned; one sharing a single boilerplate n-gram is fine).
    * All-integer output; eval docs with zero leaks are emitted too.
    *
    * Scale shape: same asymmetry as [[decontaminate]] — the eval
    * shingle set (now carrying its eval doc_id) broadcasts, the
    * 100 TB train side streams through the broadcast join on 8-byte
    * hashes and is never shuffled; match fan-out is bounded by leak
    * volume × eval-side shingle multiplicity, and the rollup keys on
    * the eval doc_id (eval-sized aggregate).
    */
  def deconReport(train: DataFrame, evalDocs: DataFrame, n: Int = 5): DataFrame = {
    val evalSh = broadcast(
      rawShingleHashes(evalDocs, n)
        .select(col("doc_id").as("eval_id"), col("h"))
        .distinct())
    val matches = rawShingleHashes(train, n)
      .select(col("doc_id").as("train_id"), col("h"))
      .distinct()
      .join(evalSh, Seq("h"))
      .groupBy(col("eval_id"))
      .agg(countDistinct(col("train_id")).as("n_leaky_train_docs"),
        countDistinct(col("h")).as("n_shared_shingles"))
    evalDocs.select(col("doc_id"))
      .join(matches.withColumnRenamed("eval_id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("n_leaky_train_docs", coalesce(col("n_leaky_train_docs"), lit(0L)))
      .withColumn("n_shared_shingles", coalesce(col("n_shared_shingles"), lit(0L)))
      .orderBy(col("doc_id"))
  }

  /** Per-TRAIN-document contamination FRACTION — the graduated form of
    * [[decontaminate]]'s binary verdict: what share of each train doc's
    * distinct word n-grams appears anywhere in the eval suite, as an
    * exact integer micro-rate. Production pipelines threshold this in
    * bands (drop near-copies of eval items, flag partial overlaps for
    * review, keep docs sharing only boilerplate n-grams) instead of
    * dropping on a single shared shingle; this is the column those
    * thresholds read. Docs too short to shingle (< n tokens) have no
    * defined fraction and are not emitted — by construction they cannot
    * leak an n-gram.
    *
    * Scale shape: identical to [[decontaminate]] — the eval suite's
    * distinct 8-byte shingle-hash set broadcasts, the 100 TB train side
    * streams through one broadcast left join and one doc_id-keyed
    * aggregate; nothing corpus-sized shuffles but the per-doc rollup.
    */
  def deconOverlap(train: DataFrame, evalDocs: DataFrame, n: Int = 5): DataFrame = {
    val evalHashes = broadcast(
      rawShingleHashes(evalDocs, n).select(col("h"))
        .distinct().withColumn("hit", lit(1L)))
    rawShingleHashes(train, n)
      .distinct()
      .join(evalHashes, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hit"))
      .withColumn("overlap_micro", expr("n_hit * 1000000 div n_shingles"))
      .orderBy(col("doc_id"))
  }

  /** Gate entry: same %20 eval split as [[deconSurvivors]]. */
  def deconOverlapDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    deconOverlap(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0))
  }

  /** Eval-set n-gram COVERAGE in the training corpus — the inverse
    * direction of [[deconOverlap]]: instead of asking which TRAIN docs
    * leak eval content, ask how much of each EVAL doc's n-gram set the
    * corpus already contains. The benchmark-saturation / memorization-
    * risk audit: an eval doc whose n-grams are 95% covered measures
    * recall of the corpus, not generalization, even when no single
    * train doc contains a long verbatim span (which is why the decon
    * survivor check alone can green-light it).
    *
    * Scale shape: the SAME decon asymmetry, just rolled up to the other
    * side — the eval suite's distinct hashes broadcast; the 100 TB
    * train side streams through a broadcast semi-join that only lets
    * eval-matching hashes survive (match volume ≤ eval vocabulary, so
    * the distinct after it is eval-sized); one eval-sized join + rollup
    * finishes. The train corpus is never shuffled.
    */
  def ngramCoverage(train: DataFrame, evalDocs: DataFrame,
      n: Int = 5): DataFrame = {
    val evH = rawShingleHashes(evalDocs, n).distinct()
    val evSet = broadcast(evH.select(col("h")).distinct())
    val covered = rawShingleHashes(train, n)
      .select(col("h"))
      .join(evSet, Seq("h"), "left_semi")
      .distinct()
      .withColumn("hit", lit(1L))
    evH.join(covered, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_covered"))
      .withColumn("coverage_micro", expr("n_covered * 1000000 div n_grams"))
      .orderBy(col("doc_id"))
  }

  /** Gate entry: same %20 eval split as [[deconSurvivors]]. */
  def ngramCoverageDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    ngramCoverage(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0))
  }

  /** Gate entry: same %20 eval split as [[deconSurvivors]]. */
  def deconReportDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    deconReport(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0))
  }

  /** Gate entry: eval split = doc_id % 20 == 0 (a deterministic stand-in
    * for a real benchmark suite), train = the rest.
    */
  def deconSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    decontaminate(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0))
  }

  /** [[decontaminate]] without broadcasting the eval hash set: the scale
    * path for when the eval suite itself is huge (its distinct shingle
    * set near or past the 8 GB broadcast hard limit). Same output,
    * different plan:
    *
    *  1. the eval shingle hashes are folded into a Bloom filter INSIDE
    *     the plan — `bloom_agg` is Spark's own runtime-filter aggregate
    *     (distributed partial buffers, merged once), delivered to the
    *     probe side as a scalar subquery, ~1.2 GB at 3% fpp for 10⁹
    *     shingles where the exact set is ≥ 8 GB;
    *  2. the 100 TB train side streams through the Bloom probe — a
    *     codegen'd filter in the scan stage, no join, no shuffle — which
    *     discards ~(1-fpp) of its shingles;
    *  3. the surviving sliver (true leaks + fpp share) is verified with
    *     an exact SHUFFLE semi-join against the eval hashes — both sides
    *     are modest now, so no broadcast limit applies anywhere — making
    *     false positives semantically invisible: output == exact
    *     decontaminate, bit for bit (asserted in DedupSpec and by the
    *     gate, which runs this against the same DuckDB oracle as
    *     `decon_survivors`).
    *
    * `expectedEvalShingles` sizes the filter (Spark's default fpp curve);
    * overestimating costs memory, underestimating costs fpp (more exact-
    * verify work), never correctness. NOTE Spark clamps the size to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`/`maxNumBits`
    * — [[graft.Engine.session]] raises them to 2^32 items / 2^36 bits so
    * billion-shingle sizings actually take effect; a session built
    * elsewhere must do the same or large arguments silently saturate.
    */
  def decontaminateBloom(train: DataFrame, evalDocs: DataFrame, n: Int = 5,
      expectedEvalShingles: Long = 4L << 20): DataFrame = {
    import graft.functions.BloomFn
    // distinct FIRST so the bloom aggregates each hash once and the same
    // shape feeds the verify join. NOTE the eval side is still scanned
    // twice (subquery + verify build): constraint propagation copies the
    // might_contain probe into the verify branch, which breaks canonical
    // equality with the subquery's subtree, so ReuseExchange cannot fire.
    // That is a constant-factor cost on the SMALL side; at production
    // scale the eval hash set is precomputed and stored once anyway.
    val evalHashes = rawShingleHashes(evalDocs, n)
      .select(col("h")).distinct()
    val bloom = evalHashes
      .agg(BloomFn.bloomAgg(col("h"), expectedEvalShingles).as("bf"))
      .scalar()
    val contaminated = rawShingleHashes(train, n)
      .filter(BloomFn.mightContain(bloom, col("h")))
      .join(evalHashes.hint("shuffle_hash"), Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
    train.select(col("doc_id"))
      .join(contaminated, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Gate entry: same split as [[deconSurvivors]], Bloom-prefiltered path
    * — the driver checks it against the identical oracle.
    */
  def deconBloomSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    decontaminateBloom(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0))
  }

  /** Incremental ingest dedup — the daily-batch shape: a (small) `delta`
    * of freshly crawled documents is admitted only if it duplicates
    * nothing in the (enormous) existing `corpus`. Two screens, both
    * delta-driven so the corpus is never self-joined:
    *
    *  - exact: 8-byte text-digest semi-join against the corpus digests
    *    (catches short docs below the shingle width too);
    *  - near: the delta's LSH band keys PROBE the corpus's band index —
    *    candidates are (delta, corpus) pairs only, never corpus×corpus,
    *    so work scales with |delta| × bucket occupancy, not |corpus|² —
    *    then exact shingle-Jaccard verification at `threshold` (same
    *    recall argument as [[minhashLshPairs]]).
    *
    * Returns the surviving delta doc_ids. At production scale the corpus
    * band index and digests are precomputed once and stored (bucketed by
    * band_hash / digest), making the daily cost independent of corpus
    * re-scanning; here both sides derive in-plan from the same table.
    */
  def ingestDedup(corpus: DataFrame, delta: DataFrame,
      threshold: Double = 0.9, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    // 128-bit digest for text identity — same standard as exactDedupDocs:
    // at 10¹⁰-doc corpora a 64-bit digest's |delta|×|corpus| birthday
    // pressure accumulates daily, md5's 2^-128 does not. 32 hex chars
    // per row cross the shuffle, never the text.
    val exactDup = delta.select(col("doc_id"), md5(col("text")).as("dg"))
      .join(corpus.select(md5(col("text")).as("dg")).distinct(),
        Seq("dg"), "left_semi")
      .select(col("doc_id"))
    val shD = shingleHashes(delta, n)
    val shC = shingleHashes(corpus, n)
    val probe = bandedSignatures(shD, numHashes, bands)
      .select(col("band"), col("band_hash"), col("doc_id").as("doc_a"))
    val index = bandedSignatures(shC, numHashes, bands)
      .select(col("band"), col("band_hash"), col("doc_id").as("doc_b"))
    // sided verify: delta ids resolve against delta shingles, corpus ids
    // against corpus shingles — correct even when a delta re-crawl
    // reuses an existing corpus doc_id
    val nearDup = verifiedPairsSided(
        probe.join(index, Seq("band", "band_hash"))
          .select(col("doc_a"), col("doc_b")).distinct(),
        shD, shC, threshold)
      .select(col("doc_a").as("doc_id")).distinct()
    delta.select(col("doc_id"))
      .join(exactDup.union(nearDup).distinct(), Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Gate entry: delta = doc_id % 10 == 7, corpus = the rest. */
  def ingestDedupDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    ingestDedup(
      docs.filter(col("doc_id") % 10 =!= 7),
      docs.filter(col("doc_id") % 10 === 7))
  }

  /** Per-source duplication report — the health dashboard a crawl
    * pipeline watches per ingest source: document count, distinct-text
    * count, and the exact-duplicate ratio. Distinctness is counted over
    * the 128-bit md5 digest, not the text, so the distinct-agg shuffle
    * carries 32 hex chars per row instead of whole documents — the same
    * identity standard as [[exactDedupDocs]].
    */
  def dupStats(docs: DataFrame): DataFrame =
    docs.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique"))
      .withColumn("dup_ratio", round(
        lit(1.0) - col("n_unique").cast("double") / col("n_docs").cast("double"), 6))
      .orderBy(col("source"))

  // ------------------------------------- cross-doc substring duplication

  /** Per-document duplicated-span fraction: of a doc's k-token shingle
    * POSITIONS (every window, with multiplicity — not the distinct set),
    * how many are covered by a shingle that also occurs in at least one
    * OTHER document. This is the word-level form of the exact-substring
    * dedup signal (find docs whose content is largely lifted from
    * elsewhere in the corpus, even when no single pair passes a
    * whole-doc Jaccard threshold): train-set curation drops or trims
    * docs whose `dup_positions / total_positions` is high. Pure integers
    * → engine-exact gate.
    *
    * Scale shape: positions are a narrow per-row explode (linear in
    * corpus tokens); cross-doc document frequency comes from ONE
    * groupBy over the per-doc DISTINCT shingle set (wordcount pattern,
    * partial agg) — never a self-join; the flag rides back to positions
    * on a left join keyed by the 128-bit md5 of the shingle, so both
    * shuffles move 32-hex-char keys instead of arbitrary-length
    * shingles (the identity standard every dedup path here uses).
    * Multiply-occurring hot shingles fan out only as (positions ×
    * match-or-not) — the flag side is one row per hash by construction,
    * so the join keeps left multiplicity and never duplicates rows.
    */
  def substrDupStats(docs: DataFrame, k: Int = 5): DataFrame = {
    val pos = rawShingles(docs, k)
      .select(col("doc_id"), md5(col("shingle")).as("h"))
    // one row per df>=2 shingle hash (grouped, hence distinct) — joined
    // LEFT so every position keeps its row and the flag marks coverage;
    // both position counts then come from ONE doc-level aggregation
    // (count(flag) counts non-nulls), no second rollup, no final join
    val crossDoc = pos.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select(col("h"), lit(1).as("flag"))
    pos.join(crossDoc, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("total_positions"),
        count(col("flag")).as("dup_positions"))
      .withColumn("dup_frac", round(
        col("dup_positions").cast("double") / col("total_positions"), 6))
      .select(col("doc_id"), col("total_positions"), col("dup_positions"),
        col("dup_frac"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------ cross-doc duplicated-span REMOVAL

  /** Exact-substring dedup with document REASSEMBLY (the Lee et al. 2022
    * "Deduplicating Training Data" ExactSubstr treatment): every token
    * covered by a k-gram that also occurs in ≥`minDf` documents is cut,
    * and the surviving tokens are stitched back into a cleaned document.
    * Where [[substrDupStats]] *measures* cross-doc duplication, this
    * *applies* the cut — the output is the cleaned corpus itself, the
    * artifact a training run actually consumes. Short docs (< k tokens)
    * carry no shingles and pass through whole; a fully-duplicated doc
    * survives as an empty string with `n_kept = 0` (dropping empties is
    * the caller's policy decision, not this operator's).
    *
    * Scale shape: flagging is the [[substrDupStats]] wordcount pattern
    * (one groupBy over per-doc-distinct shingle md5s, then a semi-join
    * back to positions — both shuffles carry 32-hex keys, never text).
    * The REASSEMBLY adds no token-level shuffle: covered token indices
    * aggregate into one per-doc array (bounded by doc length), join back
    * to the docs at doc granularity, and the surviving text is rebuilt
    * in-row by an indexed higher-order `filter` over the token array —
    * the cleaned corpus is written straight out of the scan-side
    * projection. Duplicated-span volume, not corpus volume, is what
    * crosses the wire.
    */
  def spanRemove(docs: DataFrame, k: Int = 5, minDf: Int = 2): DataFrame = {
    val base = docs.select(col("doc_id"), TextAnalysis.whitespaceTokens(col("text")).as("w"))
    // (doc_id, i, h): 0-based start position i of each k-gram, keyed by
    // its md5 (positions matter here, unlike rawShingles' occurrences)
    val pos = base
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(w) - $k), i -> md5(concat_ws(' ', slice(w, i + 1, $k))))")))
      .toDF("doc_id", "i", "h")
    val crossDoc = pos.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("h"))
    val covered = pos.join(crossDoc, Seq("h"), "left_semi")
      .select(col("doc_id"), explode(expr(s"sequence(i, i + ${k - 1})")).as("j"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("j")).as("cov"))
    base.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_total"),
        (size(col("w")) - coalesce(size(col("cov")), lit(0))).cast("long").as("n_kept"),
        when(col("cov").isNull, concat_ws(" ", col("w")))
          .otherwise(concat_ws(" ",
            expr("filter(w, (t, i) -> NOT array_contains(cov, i))")))
          .as("clean_text"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------- canonicalized-text exact dedup

  /** Exact dedup over CANONICALIZED text (NFC + casefold + whitespace
    * collapse via the [[graft.functions.NormText]] codegen expression):
    * one row per normalized-content group — the surviving (minimum)
    * doc_id and how many raw variants collapsed into it. Catches the
    * casing/encoding/whitespace near-misses byte-exact dedup cannot see
    * while staying a single wordcount-shaped aggregate (contrast the
    * shingle machinery near-dup needs). The groupBy keys on the full
    * 128-bit md5 of the normalized text — the identity standard — so
    * the shuffle moves 32 hex chars per doc, never documents.
    */
  def normDedup(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        md5(graft.functions.NormText.normText(col("text"))).as("nfp"))
      .groupBy(col("nfp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_variants"))
      .select(col("doc_id"), col("n_variants"))
      .orderBy(col("doc_id"))

  // --------------------------------------------- snapshot (crawl) diff

  /** Corpus snapshot diff — the "what changed between crawls" report a
    * recurring ingest pipeline runs before deciding what to re-process:
    * per document, `added` (new snapshot only), `removed` (old only) or
    * `changed` (present in both, text digest differs). UNCHANGED docs —
    * the overwhelming bulk of a 100 TB re-crawl — are NOT emitted: the
    * output is delta-sized, which is the entire point at scale.
    *
    * Scale shape: each side is reduced to (doc_id, md5) IN the scan
    * (the shuffle carries 32 hex chars per doc, never text — the
    * repo's text-identity standard), then one full-outer join on
    * doc_id; the status is a codegen'd case expression and the
    * unchanged filter drops the bulk before the output exchange.
    */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), md5(col("text")).as("old_fp"))
    val n = newDocs.select(col("doc_id"), md5(col("text")).as("new_fp"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") =!= col("new_fp"), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("status") =!= "unchanged")
      .select(col("doc_id"), col("status"))
      .orderBy(col("doc_id"))
  }

  /** Gate entry: a synthetic re-crawl of the documents table — the old
    * snapshot is missing the `% 10 == 7` docs (they get `added`), the
    * new one drops `% 10 == 9` (`removed`) and rewrites the text of
    * `% 10 == 3` (`changed`). Same construction in the DuckDB oracle.
    */
  def snapshotDiffDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    snapshotDiff(
      docs.filter(col("doc_id") % 10 =!= 7),
      docs.filter(col("doc_id") % 10 =!= 9)
        .withColumn("text",
          when(col("doc_id") % 10 === 3, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))))
  }

  /** CDC apply — the lakehouse `MERGE INTO` an incremental curation
    * pipeline runs between crawls ([[snapshotDiff]] computes a diff;
    * this APPLIES one): upsert rows replace matched ids or add new
    * ones, delete ids drop, everything else rides through untouched.
    * One anti-join on the touched-id set plus a union — no corpus-wide
    * window, no per-row versioning state.
    *
    * 100 TB shape: the changeset is days-of-crawl-sized against a
    * corpus-sized base, so the touched-id side broadcasts (ids only —
    * never changeset payloads); when a backfill-scale changeset
    * exceeds broadcast limits, AQE falls back to a hash join on
    * doc_id and the plan is unchanged otherwise. Upsert payloads
    * union in by name, so base and changeset schemas must agree —
    * loudly enforced by unionByName itself.
    */
  def cdcApply(base: DataFrame, upserts: DataFrame,
      deleteIds: DataFrame): DataFrame = {
    val touched = upserts.select(col("doc_id"))
      .unionByName(deleteIds.select(col("doc_id")))
      .distinct()
    base.join(broadcast(touched), Seq("doc_id"), "left_anti")
      .unionByName(upserts)
  }

  /** Gate entry: a synthetic changeset over the documents table —
    * `% 10 == 3` docs get updated text (`|| " v2"`), `% 10 == 7` docs
    * re-enter as inserts under shifted ids (`+ max(doc_id) + 1`),
    * `% 10 == 9` docs are deleted. Gated on (doc_id, md5(text)) of the
    * applied snapshot; same construction in the DuckDB oracle.
    */
  def cdcApplyDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val shift = docs.agg((max(col("doc_id")) + 1).as("__shift"))
    val updates = docs.filter(col("doc_id") % 10 === 3)
      .withColumn("text", concat(col("text"), lit(" v2")))
    val inserts = docs.filter(col("doc_id") % 10 === 7)
      .crossJoin(broadcast(shift))
      .withColumn("doc_id", col("doc_id") + col("__shift"))
      .drop("__shift")
    val deletes = docs.filter(col("doc_id") % 10 === 9)
      .select(col("doc_id"))
    cdcApply(docs, updates.unionByName(inserts), deletes)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .orderBy(col("doc_id"))
  }
}
