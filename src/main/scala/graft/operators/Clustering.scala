package graft.operators

import graft.Engine.Tables
import graft.functions.VecDot.vecDot
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed Lloyd k-means over the embeddings table — the clustering
  * stage a training-data pipeline runs before IVF indexing, corpus
  * balancing or semantic dedup (and the "production system would
  * k-means" referenced by [[Similarity.ivfTopK]]'s seeded centroids).
  *
  * Scale shape per iteration:
  *  - centroids live on the DRIVER (k × dim doubles — k-means state is
  *    tiny by construction) and are compiled into the assignment
  *    expression as literals, so assignment is k codegen'd [[vecDot]]
  *    calls fused into the scan — one corpus pass, no join, no shuffle
  *    of the vectors;
  *  - the centroid update shuffles only (cluster, dim, partial-sum)
  *    triples after map-side partial aggregation: k·dim rows total,
  *    independent of corpus size;
  *  - vectors are never collected; only the k·dim aggregate comes back.
  *
  * Determinism: init is the first k vectors by vec_id (no RNG), argmin
  * breaks distance ties toward the lower cluster id, and every distance
  * is the same left-to-right double sum on every engine. The centroid
  * UPDATE accumulates floor-quantized integer micro-units (the
  * [[labelCentroids]] discipline): each element contributes
  * `floor(x·1e6)` as a Long, so the per-dimension sums are EXACT under
  * any partitioning and reduction order, and the updated centroid
  * `s_micro / (1e6·n)` is the same double on every engine — which makes
  * the whole trainer partition-invariant and value-gateable (the DuckDB
  * oracle replays the identical unrolled iterations). The ≤1e-6
  * per-element quantization of the mean is far below any clustering
  * signal; what it buys is reproducibility — the property a 100 TB
  * curation run needs more than the 7th decimal of a centroid.
  */
object Clustering {

  /** The nearest-centroid argmin as ONE least()-struct expression:
    * minimizes c² − 2·v·c (the ‖v‖² term is constant per row) with a
    * lower-centroid-id tiebreak. `getField("c_id")` is the cluster,
    * `getField("d")` is dist² − ‖v‖². The single definition shared by
    * the trainer, the fixed-assignment gate and semdedup — bit-identity
    * of the three against the DuckDB oracle is part of the contract, so
    * the arithmetic must never fork.
    */
  private def bestCentroid(cents: Seq[Array[Double]],
      emb: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // dim from the centroids themselves — the argmin is full-vector here
    val dim = cents.head.length
    // native kernel, bit-identical to the former least(struct) tree
    // (same c² literals, left-to-right dot, c² − 2·dot, smallest-id
    // ties) — see graft.functions.PqArgmin; ~50× the evaluation
    // throughput at k = 16
    graft.functions.PqArgmin.pqArgminDist(emb, cents.toIndexedSeq, 0, dim)
  }

  /** (assignments, centroids): assignments = (vec_id, cluster, dist2);
    * centroids = driver-side array indexed by cluster id.
    */
  /** Conf key for the driver-arm size gate of [[kmeans]]: a training
    * input whose Catalyst size estimate is at most this many bytes is
    * collected ONCE and the Lloyd loop runs on the driver — zero
    * scheduler round-trips instead of one distributed job per
    * iteration. 0 disables the arm (every iteration distributed — the
    * A/B spec's control and the unconditional at-scale path). The
    * arithmetic is identical by construction (see [[driverLloyd]]), so
    * the arm is a pure scheduling optimization: gate hashes cannot
    * move. Default 64 MiB ≈ a quarter-million 64-dim float vectors —
    * trivially driver-sized, and exactly the regime the sample-bounded
    * trainers produce by construction at ANY corpus size.
    */
  val DriverMaxBytesKey = "spark.graft.kmeans.driverMaxBytes"
  private val DriverMaxBytesDefault = 64L * 1024 * 1024

  /** The Lloyd loop on driver-collected rows — the SAME arithmetic as
    * the distributed path, operation for operation: assignment is the
    * [[graft.functions.PqArgmin]] recipe (c² = left-to-right Scala
    * square sum, dot accumulates left-to-right in double, score =
    * c² − 2·dot, strict < keeps the smaller centroid id); the update
    * sums floor(x·1e6) longs (associative — partitioning order never
    * mattered, which is WHY a driver loop can be bit-identical) and
    * divides s / (1e6·n); empty clusters keep their previous position.
    * The third-engine replay (tools/replay_audit.py) is the from-spec
    * proof this arithmetic is engine-portable; this is the same loop
    * in-process.
    */
  private def driverLloyd(rows: Array[Array[Double]],
      init: Array[Array[Double]], k: Int, iters: Int,
      dim: Int): Array[Array[Double]] = {
    var cents = init
    for (_ <- 1 to iters) {
      val norms = cents.map(c => c.map(x => x * x).sum)
      val sums = Array.fill(k)(new Array[Long](dim))
      val cnt = new Array[Long](k)
      rows.foreach { v =>
        var best = 0
        var bestD = Double.PositiveInfinity
        var p = 0
        while (p < k) {
          val c = cents(p)
          var dot = 0.0
          var j = 0
          while (j < dim) { dot += v(j) * c(j); j += 1 }
          val d = norms(p) - 2.0 * dot
          if (d < bestD) { bestD = d; best = p }
          p += 1
        }
        cnt(best) += 1
        val s = sums(best)
        var j = 0
        while (j < dim) { s(j) += math.floor(v(j) * 1e6).toLong; j += 1 }
      }
      cents = Array.tabulate(k)(p =>
        if (cnt(p) == 0L) cents(p).clone()
        else Array.tabulate(dim)(j => sums(p)(j) / (1e6 * cnt(p))))
    }
    cents
  }

  /** The driver-arm gate + collect, factored out so MULTI-chain trainers
    * (the IVF-PQ stack trains one coarse chain plus m per-subspace book
    * chains over the SAME rows) can pay ONE collect for all chains
    * instead of one per chain — at gate scale the chains' cost is
    * scheduler round-trips, not arithmetic. Returns the rows ordered by
    * `idCol` (sorted on the DRIVER under Spark's own ordering for the
    * id's type — for strings UTF-8 byte order, not Java's `compareTo` —
    * so with unique ids the order equals the distributed `orderBy`
    * without paying its range-exchange job) as exact double-widened
    * arrays when the validated Catalyst size estimate fits the
    * [[DriverMaxBytesKey]] budget; None = run distributed, the direction
    * that is always safe.
    */
  private[graft] def driverArmRows(vecs: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding"): Option[Array[Array[Double]]] = {
    val spark = vecs.sparkSession
    // size-gate on the Catalyst estimate, validated as BigInt BEFORE
    // use (the derivedGridB sentinel discipline): a missing-stats
    // lineage reports defaultSizeInBytes ≈ Long.MaxValue and a garbage
    // estimate lands outside (0, maxBytes] — both fall back to the
    // distributed loop
    val maxBytes = spark.conf.getOption(DriverMaxBytesKey)
      .map(_.toLong).getOrElse(DriverMaxBytesDefault)
    val est: BigInt =
      try vecs.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case scala.util.control.NonFatal(_) => BigInt(Long.MaxValue) }
    if (!(maxBytes > 0 && est > 0 && est <= BigInt(maxBytes))) None
    else {
      val elemIsFloat = vecs.schema(embCol).dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) => true
        case _ => false
      }
      val idType = vecs.schema(idCol).dataType
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
      // None (a null id) sorts first, as in an ascending orderBy
      val idOrder = Ordering.Option(TypeUtils.getInterpretedOrdering(idType))
      // the float→double element cast is exact, so converting up front
      // preserves the distributed kernel's per-element cast semantics
      Some(vecs.select(col(idCol), col(embCol)).collect()
        .sortBy(r => Option(toCatalyst(r.get(0))))(idOrder)
        .map { r =>
          if (elemIsFloat) r.getSeq[Float](1).map(_.toDouble).toArray
          else r.getSeq[Double](1).toArray
        })
    }
  }

  /** [[driverLloyd]] on pre-collected rows with the trainer's init rule
    * (first k rows in id order) — the entry point for callers that share
    * one [[driverArmRows]] collect across several chains.
    */
  private[graft] def lloydOnRows(rows: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    require(k >= 2 && iters >= 1, s"need k >= 2, iters >= 1; got k=$k iters=$iters")
    require(rows.length >= k, s"corpus has fewer than k=$k vectors")
    driverLloyd(rows, rows.take(k).map(_.clone()), k, iters, rows.head.length)
  }

  def kmeans(vecs: DataFrame, k: Int = 16, iters: Int = 5,
      idCol: String = "vec_id", embCol: String = "embedding"): (DataFrame, Array[Array[Double]]) = {
    // k >= 2: the argmin builds least() over k structs, which Spark
    // requires to have at least two arguments (k = 1 is degenerate anyway)
    require(k >= 2 && iters >= 1, s"need k >= 2, iters >= 1; got k=$k iters=$iters")
    val spark = vecs.sparkSession

    val elemIsFloat = vecs.schema(embCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }

    val armRows = driverArmRows(vecs, idCol, embCol)
    var centroids: Array[Array[Double]] = null
    if (armRows.isDefined) {
      // ONE collect replaces the init job plus every iteration job
      centroids = lloydOnRows(armRows.get, k, iters)
    } else {
      centroids = vecs
        .orderBy(col(idCol)).limit(k)
        .select(col(embCol)).collect()
        .map { r =>
          if (elemIsFloat) r.getSeq[Float](0).map(_.toDouble).toArray
          else r.getSeq[Double](0).toArray
        }
      require(centroids.length == k, s"corpus has fewer than k=$k vectors")
    }
    val dim = centroids.head.length

    def assigned: DataFrame =
      vecs.withColumn("cluster",
        bestCentroid(centroids.toSeq, col(embCol)).getField("c_id"))

    for (_ <- 1 to iters if armRows.isEmpty) {
      // new centroid = per-dimension mean of assigned vectors: explode to
      // (cluster, dim, micro) and aggregate — k·dim result rows, map-side
      // partial sums carry the corpus weight. Elements enter as
      // floor(x·1e6) Longs (binary floor of the IEEE product —
      // deliberately NOT round(), see labelCentroids), so the sums are
      // exact integers in any order and the mean below is bit-identical
      // on every engine and under every partitioning — and, for the same
      // reason, identical to [[driverLloyd]]'s in-process loop.
      val sums = assigned
        .select(col("cluster"), posexplode(col(embCol)).as(Seq("d", "x")))
        .select(col("cluster"), col("d"),
          floor(col("x").cast("double") * lit(1e6)).cast("long").as("micro"))
        .groupBy(col("cluster"), col("d"))
        .agg(sum(col("micro")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = Array.tabulate(k)(i => centroids(i).clone()) // empty clusters keep position
      sums.groupBy(_.getInt(0)).foreach { case (c, rows) =>
        val v = new Array[Double](dim)
        rows.foreach(r => v(r.getInt(1)) = r.getLong(2) / (1e6 * r.getLong(3)))
        next(c) = v
      }
      centroids = next
    }

    // dist2 = ||v||² + (||c||² - 2·v·c) — the second term is exactly the
    // struct field the argmin already minimized.
    val best = bestCentroid(centroids.toSeq, col(embCol))
    val finalAssign = vecs
      .withColumn("cluster", best.getField("c_id"))
      .withColumn("dist2",
        round(vecDot(col(embCol), col(embCol)) + best.getField("d"), 4))
      .select(col(idCol), col("cluster"), col("dist2"))
    (finalAssign, centroids)
  }

  /** Gated query: final assignment per vector after 3 trained Lloyd
    * iterations — fully value-gated since the micro-quantized centroid
    * update made the trainer partition-invariant: the DuckDB oracle
    * unrolls the identical iterations (init = first k vectors by
    * vec_id, argmin of c²−2·v·c with lower-id ties, exact integer
    * micro-sums, `s/(1e6·n)` means) and must land on the same cluster
    * for every vector. Exact recovery on separated data additionally
    * ScalaTest-verified.
    */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame = {
    val (assign, _) = kmeans(Tables(spark, dir).embeddings, k = 16, iters = 3)
    assign.select(col("vec_id"), col("cluster")).orderBy(col("vec_id"))
  }

  /** Deterministic, data-independent centroids for the FIXED-centroid
    * assignment gate: centroid p, dim d = floorMod(xxhash64((p·dim+d)),
    * 1024)/1024 − 0.5 (same keyed-hash scheme as
    * [[Similarity.planeWeights]]). The /1024 grid makes every coordinate
    * a dyadic rational: its square and the per-centroid square-sum are
    * EXACT in double (≤25 mantissa bits), so the decimal literals
    * interpolated into the oracle SQL parse back to bit-identical values.
    */
  private[graft] def fixedCentroids(k: Int, dim: Int = 64): IndexedSeq[Array[Double]] =
    IndexedSeq.tabulate(k) { p =>
      Array.tabulate(dim)(d => HashGrid.point((p * dim + d).toString))
    }

  /** Cosine threshold for [[semDedup]] — interpolated into the DuckDB
    * oracle too. 0.4 sits in a measured gap of the sf0.01 pairwise-cosine
    * distribution (nearest pair is 1.3e-4 away), so the cross-engine
    * threshold compare has a margin ~10 orders of magnitude wider than
    * any ulp drift between two left-to-right double dot products.
    */
  val SemDedupTau = 0.4

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    * embedding space, then prune semantic duplicates WITHIN each cluster
    * — a vector is dropped when another vector in its cluster with a
    * smaller vec_id has cosine similarity ≥ τ to it (the deterministic
    * keep-lowest-id form of the paper's keep-one-per-duplicate-group).
    * Clustering is the [[fixedCentroids]] assignment so the whole
    * operator is value-gated; a production run would swap in [[kmeans]]
    * centroids — the pruning stage is centroid-agnostic.
    *
    * Scale shape — the entire point of SemDeDup: the within-cluster join
    * is quadratic ONLY per cluster, and k grows with the corpus (the
    * paper uses k ≈ N/5000), so each cluster's pair count stays bounded
    * while the join itself is an equi-join on the cluster id — one
    * co-partitioned shuffle, never an all-pairs cartesian (contrast
    * [[Similarity.embedNearDup]]'s exact oracle path). Assignment is k
    * codegen'd [[vecDot]] calls fused into the scan; norms are computed
    * once per vector before the join.
    */
  def semDedup(vecs: DataFrame, k: Int = 16,
      tau: Double = SemDedupTau): DataFrame =
    semDedupWith(vecs, fixedCentroids(k), tau)

  def semDedupDocs(spark: SparkSession, dir: String): DataFrame =
    semDedup(Tables(spark, dir).embeddings)

  /** Production SemDeDup: the same within-cluster prune, but clustered
    * by [[kmeans]]-trained centroids instead of the fixed gate grid —
    * data-adapted clusters make the per-cluster pair sets tighter (real
    * near-dups co-cluster, unrelated vectors don't), which is the
    * configuration the paper evaluates. Stays rows-only territory (the
    * trainer's float centroid sums are partition-order-dependent, same
    * declaration as `kmeans_assign`); the pruning stage itself is the
    * gate-proven [[semDedup]] code path.
    */
  def semDedupTrained(vecs: DataFrame, k: Int = 16, iters: Int = 3,
      tau: Double = SemDedupTau): DataFrame = {
    val (_, cents) = kmeans(vecs, k = k, iters = iters)
    semDedupWith(vecs, cents.toIndexedSeq, tau)
  }

  /** Salt-bucket fan-out for the within-cluster dominance scan: each
    * cluster's candidate set splits across this many independent
    * groups, so a duplicate-heavy cluster never serializes into one
    * straggler task and the per-group working set is a bounded slice of
    * the cluster. 8 buckets × 16 clusters = 128 work units — fills a
    * local[32] box; at production scale k grows with the corpus
    * (SemDeDup uses k ≈ N/5000) and the product stays ≫ cores.
    */
  val SemDedupSaltBuckets = 8

  /** One row of the dominance-scan shuffle (bucket-replicated cluster
    * member; `probe` marks the copy that is a DROP candidate in this
    * bucket). Public only because Catalyst's generated deserializer
    * must instantiate it — not part of the operator API.
    */
  final case class SemVec(vec_id: Long, cluster: Int, bucket: Int,
      probe: Boolean, embedding: Array[Float], norm: Double)

  /** [[semDedup]] against caller-supplied centroids (shared by the fixed
    * gate entry and [[semDedupTrained]]).
    *
    * The within-cluster dominance test runs as a per-(cluster, bucket)
    * `mapGroups` kernel rather than a self-join: the join formulation
    * MATERIALIZES every candidate pair as a row (two 64-float arrays
    * each) before the cosine filter sees it — measured 1.2-1.4M
    * pairs/s on the 10× stress corpus (≈9 s for 12M pairs), with
    * per-pair UnsafeRow copying dwarfing the 64-FLOP dot, and salting
    * the join keys moved nothing (11.4 s salted vs 10.0 s not — the
    * cost is per-pair materialization, not stragglers). The kernel
    * loops primitive arrays in place (zero per-pair row traffic) and —
    * impossible in the set-based join — EARLY-EXITS each candidate at
    * its first dominator, which on duplicate-heavy corpora (the shape
    * semdedup exists for) prunes most of the quadratic work: a replica
    * typically meets a dominator within its first few comparisons.
    * Same [[connectedComponents]]/[[graft.functions.PqArgmin]]
    * precedent: drop below the declarative API exactly where a
    * measured, documented constant-factor wall sits.
    *
    * Scale shape: shuffle volume is [[SemDedupSaltBuckets]] × corpus
    * (bounded fan-out of ~300 B rows); per-group memory is one
    * cluster's rows (k ≈ N/5000 keeps clusters ~5000 rows ≈ 1.5 MB —
    * driver-independent, executor-bounded); the dominated SET is
    * identical to the pair-join formulation, as the DuckDB oracle and
    * ClusteringSpec's in-memory reference pin.
    */
  private def semDedupWith(vecs: DataFrame,
      cents: IndexedSeq[Array[Double]], tau: Double): DataFrame = {
    val b = SemDedupSaltBuckets
    val spark = vecs.sparkSession
    import spark.implicits._
    val assigned = vecs
      .withColumn("cluster",
        bestCentroid(cents, col("embedding")).getField("c_id"))
      .withColumn("norm", sqrt(vecDot(col("embedding"), col("embedding"))))
      .select(col("vec_id"), col("cluster"), col("embedding"), col("norm"))
    val dominated = assigned
      .withColumn("vbucket", pmod(xxhash64(col("vec_id")), lit(b.toLong)).cast("int"))
      .withColumn("bucket", explode(array((0 until b).map(lit): _*)))
      .withColumn("probe", col("bucket") === col("vbucket"))
      .select(col("vec_id"), col("cluster"), col("bucket"), col("probe"),
        col("embedding"), col("norm"))
      .as[SemVec]
      .groupByKey(r => (r.cluster, r.bucket))
      .flatMapGroups { (_, it) =>
        // whole cluster slice in id order: for the probe at index j,
        // every earlier member (indices < j, any bucket) is a potential
        // dominator — identical pair set to the u<v self-join
        val all = it.toArray.sortInPlaceBy(_.vec_id)
        val out = Vector.newBuilder[Long]
        var j = 0
        while (j < all.length) {
          val v = all(j)
          if (v.probe) {
            var i = 0
            var hit = false
            while (i < j && !hit) {
              val u = all(i)
              // the exact vecDot arithmetic: left-to-right double
              // mult-add over float pairs, then the norms' product
              var acc = 0.0
              var d = 0
              val ue = u.embedding; val ve = v.embedding
              while (d < ue.length) {
                acc += ue(d).toDouble * ve(d).toDouble; d += 1
              }
              hit = acc / (u.norm * v.norm) >= tau
              i += 1
            }
            if (hit) out += v.vec_id
          }
          j += 1
        }
        out.result().iterator
      }
      .toDF("vec_id")
    assigned.select(col("vec_id"), col("cluster"))
      .join(dominated, Seq("vec_id"), "left_anti")
      .orderBy(col("vec_id"))
  }

  /** Gated query: nearest-centroid assignment against the FIXED
    * [[fixedCentroids]] — the deterministic half of k-means, split out so
    * it can carry a full value-level oracle (the iterative trainer stays
    * rows-only: its float centroid sums are partition-order-dependent).
    * Same [[bestCentroid]] argmin as the trainer: k codegen'd [[vecDot]]
    * calls fused into the scan, no join, no shuffle. dist² = v·v + (c² −
    * 2·v·c) with every term computed in the identical left-to-right
    * double order the DuckDB oracle uses.
    */
  def kmeansFixedAssign(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val best = bestCentroid(fixedCentroids(k), col("embedding"))
    Tables(spark, dir).embeddings
      .withColumn("cluster", best.getField("c_id"))
      .withColumn("dist2",
        round(vecDot(col("embedding"), col("embedding")) + best.getField("d"), 4))
      .select(col("vec_id"), col("cluster"), col("dist2"))
      .orderBy(col("vec_id"))
  }

  // ------------------------------------------- per-label class centroids

  /** Per-label class prototypes — the nearest-class-mean / drift-monitor
    * primitive (and the statistic SemDeDup-style pruning pivots on):
    * for each label, the element-wise centroid of its embeddings.
    *
    * Engine-exactness: distributed float-mean sums are partition-order
    * dependent (why `kmeans_assign` is rows-only), so the gated surface
    * carries floor-quantized integer sums instead — each element is
    * floor(x·10⁶) (a BINARY floor of an IEEE product, identical in any
    * engine — deliberately NOT round(x, 6), whose decimal-string
    * half-up rounding Spark applies can disagree with a binary-value
    * engine at representation boundaries), and the per-dimension Long
    * sums are exact under any partitioning and reduction order. The
    * centroid mean is client-side `sum_micro / (1e6·n_vecs)`. The
    * 64-long vector is emitted as an md5 digest of its comma-join (the
    * repo's array-gating technique) plus dimension 0 in the clear.
    *
    * Scale shape: one posexplode (rows × dim, narrow longs), one
    * (label, d) groupBy with map-side partials, one label-sized rollup
    * collecting exactly dim values per label. Nothing quadratic; the
    * shuffle carries (label, d, long).
    */
  def labelCentroids(vecs: DataFrame): DataFrame = {
    val e = vecs
      .select(col("label"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("label"), col("d"),
        floor(col("x").cast("double") * lit(1e6)).cast("long").as("micro"))
    e.groupBy(col("label"), col("d"))
      .agg(sum(col("micro")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"),
        expr("transform(array_sort(collect_list(struct(d, s))), p -> p.s)")
          .as("sums"))
      .select(col("label"),
        col("n_vecs"),
        element_at(col("sums"), 1).as("s0_micro"),
        md5(concat_ws(",", expr("transform(sums, s -> CAST(s AS STRING))")))
          .as("centroid_digest"))
      .orderBy(col("label"))
  }

  def labelCentroidsDocs(spark: SparkSession, dir: String): DataFrame =
    labelCentroids(Tables(spark, dir).embeddings)

  // --------------------------------------------- embedding drift monitor

  /** Embedding-distribution drift between two corpus slices — the
    * monitor a pipeline runs across a crawl/model boundary before
    * trusting an index or classifier trained on the old slice (here the
    * slices are vec_id parity, the repo's deterministic crawl-boundary
    * stand-in). Per label: both slice sizes and the L1 distance between
    * the slice centroids.
    *
    * Engine-exactness without division: centroid means need s/n, but
    * micro sums are SIGNED and Spark `div` (truncating) disagrees with
    * DuckDB `//` (flooring) on negatives — so the distance is carried
    * cross-multiplied: l1_scaled = Σ_d |so_d·nn − sn_d·no|, pure BIGINT
    * products (|s| ≤ n·10⁶·max|x|, n ≤ corpus — no overflow at any
    * realistic slice size), with true L1(mean_old, mean_new) =
    * l1_scaled / (no·nn·10⁶) left to the consumer.
    *
    * Scale shape: [[labelCentroids]]' exact posexplode layout with the
    * slice tag as a conditional-aggregate column — one (label, d)
    * groupBy with map-side partials, then a label-sized rollup. The
    * shuffle carries (label, d, two longs).
    */
  def embedDrift(vecs: DataFrame): DataFrame = {
    val e = vecs
      .select(col("label"), (col("vec_id") % 2 === 0).as("is_old"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("label"), col("is_old"), col("d"),
        floor(col("x").cast("double") * lit(1e6)).cast("long").as("micro"))
    e.groupBy(col("label"), col("d"))
      .agg(
        coalesce(sum(when(col("is_old"), col("micro"))), lit(0L)).as("so"),
        count(when(col("is_old"), lit(1))).as("no"),
        coalesce(sum(when(!col("is_old"), col("micro"))), lit(0L)).as("sn"),
        count(when(!col("is_old"), lit(1))).as("nn"))
      .groupBy(col("label"))
      .agg(min(col("no")).as("n_old"), min(col("nn")).as("n_new"),
        sum(abs(col("so") * col("nn") - col("sn") * col("no")))
          .as("l1_scaled"))
      .orderBy(col("label"))
  }

  def embedDriftDocs(spark: SparkSession, dir: String): DataFrame =
    embedDrift(Tables(spark, dir).embeddings)

  // ---------------------------------------- capacity-balanced assignment

  /** Salt-bucket fan-out for the balanced ranking (two-level window
    * discipline: a cluster's members never serialize into one task).
    */
  val BalancedSaltBuckets = 64L

  /** Capacity-balanced nearest-centroid assignment — the sharding form
    * of clustering: plain argmin assignment gives hot centroids
    * unbounded clusters, useless when each cluster must fit a shard /
    * index partition / worker. Every vector takes its nearest centroid
    * unless that cluster is at capacity `ceil(n/k)`, in which case it
    * moves to its SECOND-nearest (one greedy overflow round —
    * deterministic, and the moved set is exactly the per-cluster
    * farthest tail).
    *
    * Scale + determinism: the per-cluster "farthest tail" needs a rank
    * by distance, which as ONE window per cluster would put corpus/k
    * rows in a task — so capacity splits across [[BalancedSaltBuckets]]
    * md5-salted sub-windows per cluster (cap = q·64 + r ⇒ buckets < r
    * hold q+1), the keyed two-level discipline the packing operators
    * use. Balance is enforced per salt shard; totals per cluster still
    * respect cap exactly, and the assignment is a pure function of the
    * data (md5 salt, distance+id ties) any engine replays.
    */
  def balancedAssign(vecs: DataFrame, k: Int = 16): DataFrame = {
    val cents = fixedCentroids(k)
    val ds = cents.zipWithIndex.map { case (c, id) =>
      val c2 = c.map(x => x * x).sum
      struct((lit(c2) - lit(2.0) * vecDot(col("embedding"), lit(c))).as("d"),
        lit(id).as("c_id"))
    }
    val capFrame = broadcast(vecs.agg(
      expr(s"(count(1) + ${k - 1}) div $k").as("cap")))
    val base = vecs.select(col("vec_id"), col("embedding"))
      .withColumn("__a", array_sort(array(ds: _*)))
      .select(col("vec_id"),
        col("__a").getItem(0).getField("c_id").as("c1"),
        col("__a").getItem(0).getField("d").as("d1"),
        col("__a").getItem(1).getField("c_id").as("c2"))
      .withColumn("salt", pmod(graft.operators.TextAnalysis.md5_60(
        concat(lit("bal:"), col("vec_id").cast("string"))),
        lit(BalancedSaltBuckets)))
    val w = Window.partitionBy(col("c1"), col("salt"))
      .orderBy(col("d1"), col("vec_id"))
    base.withColumn("rk", row_number().over(w))
      .crossJoin(capFrame)
      .withColumn("cap_local", expr(
        s"cap div $BalancedSaltBuckets" +
          s" + IF(salt < cap % $BalancedSaltBuckets, 1, 0)"))
      .withColumn("moved", col("rk") > col("cap_local"))
      .withColumn("cluster",
        when(col("moved"), col("c2")).otherwise(col("c1")))
      .select(col("vec_id"), col("cluster"), col("moved"))
      .orderBy(col("vec_id"))
  }

  def balancedAssignDocs(spark: SparkSession, dir: String): DataFrame =
    balancedAssign(Tables(spark, dir).embeddings)

  // --------------------------------------------- greedy k-center coreset

  /** Oracle unroll depth for [[kCenterCoreset]] — the loud k bound. */
  val KCenterMaxK = 8

  /** Greedy k-center coreset (Gonzalez 1985 farthest-first traversal) —
    * the data-PRUNING selector: pick the point farthest from everything
    * picked so far, k times. The selected set is a 2-approximation of
    * the optimal k-center cover, which is why coreset-based data
    * selection uses it to find a small subset whose coverage radius
    * over the full corpus is near-minimal. Emits (step, center_id,
    * d_micro) where d_micro is the selected point's min squared-L2
    * distance (micro-quantized) to the previously selected set — a
    * monotonically non-increasing sequence, the coverage-radius curve.
    *
    * Determinism + engine-exactness: seed = min vec_id; each step's
    * argmax breaks ties on vec_id; distances are v·v + (c² − 2·v·c) in
    * the fixed [[kmeansFixedAssign]] operand order, floor-quantized to
    * micro BIGINT BEFORE the max/least. The k selected centers are
    * driver state (k rows — the kmeans centroid discipline); each step
    * is one corpus scan + TakeOrdered(1), so the loop is k driver-paced
    * jobs with k loudly bounded by the oracle's unroll depth.
    */
  def kCenterCoreset(vecs: DataFrame, k: Int = KCenterMaxK): DataFrame = {
    require(k >= 2 && k <= KCenterMaxK,
      s"kCenterCoreset: k must be in [2, $KCenterMaxK] (the oracle's " +
        s"unroll depth — raise KCenterMaxK deliberately), got $k")
    val spark = vecs.sparkSession
    import spark.implicits._
    // one materialization, k in-memory passes — the traversal re-scans
    // the corpus per step, so don't pay the source read k times
    val base = vecs.select(col("vec_id"), col("embedding")).localCheckpoint()
    def dMicro(c: Array[Double]): org.apache.spark.sql.Column = {
      val c2 = c.map(x => x * x).sum
      floor((vecDot(col("embedding"), col("embedding"))
        + (lit(c2) - lit(2.0) * vecDot(col("embedding"), lit(c))))
        * lit(1e6)).cast("long")
    }
    val seed = base.orderBy(col("vec_id")).limit(1).collect()(0)
    def embOf(r: org.apache.spark.sql.Row): Array[Double] =
      r.getSeq[Float](1).toArray.map(_.toDouble)
    var picked = Vector((1, seed.getLong(0), 0L))
    var md = dMicro(embOf(seed))
    (2 to k).foreach { step =>
      val next = base.withColumn("md", md)
        .orderBy(col("md").desc, col("vec_id")).limit(1).collect()(0)
      picked :+= ((step, next.getLong(0), next.getLong(2)))
      md = least(md, dMicro(embOf(next)))
    }
    picked.toDF("step", "center_id", "d_micro").orderBy(col("step"))
  }

  def kCenterCoresetDocs(spark: SparkSession, dir: String): DataFrame =
    kCenterCoreset(Tables(spark, dir).embeddings)
}
