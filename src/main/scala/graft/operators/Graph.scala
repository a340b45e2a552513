package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality — fixed-iteration PageRank over a document link
  * graph. The crawl-prioritization primitive: production curation stacks
  * rank hosts/pages by link centrality (Common Crawl publishes harmonic
  * centrality / PageRank rankings for exactly this) and feed the score
  * into crawl scheduling and quality priors. Reference lineage: this is
  * the canonical iterated-MapReduce workload — each iteration is one
  * maple (emit rank/out_degree per outlink) + one juice (sum + damp), the
  * shape the reference's `mj_exe` contract was built for
  * (`maple_juice/maple_juice.go:564,646` dispatches such rounds).
  *
  * The driver fixtures carry no hyperlinks, so the gated entry derives a
  * deterministic synthetic link graph in-plan ([[linkEdges]], the
  * `snapshot_diff`/`sentenced` technique): every document emits
  * [[OutDegree]] outlinks whose targets are md5-60-hashed onto the
  * contiguous doc_id domain. The DuckDB oracle re-derives the identical
  * graph, so [[pageRank]] itself stays fully hash-gated.
  *
  * Engine-exactness: ranks are BIGINT micro-units (1e6 = rank 1.0), each
  * iteration is `150000 + (85 * Σ floor(r_src / out_degree)) div 100` —
  * pure integer arithmetic, so the result is bit-identical under any
  * partitioning and in any engine (the float formulation would be
  * summation-order-dependent across partitions — same discipline as
  * `label_centroids` / `doc_perplexity` micro-sums).
  *
  * 100 TB shape: ranks live in a (node, BIGINT) table, edges in a
  * (src, dst) table co-partitioned by join key; each iteration is ONE
  * shuffle-join (edges ⋈ ranks on src) + ONE aggregation shuffle (sum by
  * dst) + a broadcast-free left join back to nodes — the Pregel layout.
  * Edges are materialized once ([[java.lang.ThreadLocal]]-free
  * `localCheckpoint`, same policy as the PQ code index) so the K
  * iterations scan a stored graph instead of re-deriving it, and lineage
  * stays K-deep instead of exponential. No global windows, no driver
  * collects; per-iteration state is O(|V| + |E|) across the cluster.
  */
object Graph {

  /** Synthetic outlinks per document (fixed, so out-degree is uniform and
    * the damped contribution `r div 3` needs no degree join).
    */
  val OutDegree = 3

  /** Damped PageRank iterations in the gated entry — enough to mix the
    * graph's structure into distinguishable ranks while keeping the gate
    * plan K-join-deep.
    */
  val Iterations = 5

  /** 0.15 teleport base in rank micro-units. */
  val BaseMicro = 150000L

  /** Deterministic in-plan link synthesis: doc d emits OutDegree edges
    * d → lo + (md5_60("edge:" ++ d ++ ":" ++ j) mod n) for j = 1..k, where
    * [lo, lo+n) is the (contiguous) doc_id domain taken from a one-row
    * bounds aggregate broadcast onto the scan. Self-loops and parallel
    * edges are kept (a multigraph is fine for PageRank and keeps the
    * synthesis a pure per-row expression).
    */
  def linkEdges(docs: DataFrame): DataFrame = {
    val ids = docs.select(col("doc_id").cast("long").as("src"))
    val bounds = ids.agg(min(col("src")).as("__lo"), count(lit(1)).as("__n"))
    val targets = (1 to OutDegree).map(j =>
      col("__lo") + pmod(
        TextAnalysis.md5_60(concat(lit("edge:"), col("src").cast("string"), lit(s":$j"))),
        col("__n")))
    ids.crossJoin(broadcast(bounds))
      .select(col("src"), explode(array(targets: _*)).as("dst"))
  }

  /** Fixed-iteration damped PageRank in integer micro-units over an edge
    * list with uniform out-degree [[OutDegree]]. Returns
    * `(doc_id, rank_micro)`; Σ rank_micro ≈ n·1e6 (floor losses only).
    */
  def pageRank(docs: DataFrame, iterations: Int = Iterations): DataFrame = {
    require(iterations >= 1, s"need at least one iteration, got $iterations")
    // the stored-graph materialization: scanned K times, derived once
    val edges = linkEdges(docs).localCheckpoint()
    val nodes = docs.select(col("doc_id").cast("long").as("id"))
    var ranks = nodes.select(col("id"), lit(1000000L).as("r"))
    for (_ <- 1 to iterations) {
      val in = edges.join(ranks, edges("src") === ranks("id"))
        .select(col("dst"), expr(s"r div $OutDegree").as("share"))
        .groupBy(col("dst")).agg(sum(col("share")).as("insum"))
      ranks = nodes.join(in, nodes("id") === in("dst"), "left")
        .select(col("id"),
          (lit(BaseMicro) + expr("(85 * coalesce(insum, 0L)) div 100")).as("r"))
    }
    ranks.select(col("id").as("doc_id"), col("r").as("rank_micro"))
  }
}
