package graft.operators

import graft.Engine.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew and co-location utilities — the shuffle-discipline toolbox for the
  * 100 TB case (SURVEY §7.2-M6: "salting for skewed keys like B3's
  * constant key").
  *
  * The reference's stage-2 Condorcet job funnels ALL data through one key
  * (`mj_exe/maple_vote_two.go:10-21` prefixes every line with "1") — the
  * canonical skew pathology: one reducer does the whole job. Catalyst's
  * partial aggregation already defuses that for algebraic aggregates,
  * and the gated two-phase salted form is [[Analytics.skewSaltedAgg]].
  * What is left here is the skewed join ([[skewSplitJoin]]) and the
  * repeated fact-fact join ([[bucketize]]).
  */
object Skew {

  /** Broadcast the heavy hitters, shuffle the rest: split a join on
    * whether the left key is in `hotKeys` (a small driver-known set),
    * broadcast-join the hot slice (no shuffle of the hot rows), shuffle-
    * join the cold remainder, union. Equivalent to a plain inner join.
    */
  def skewSplitJoin(left: DataFrame, right: DataFrame, key: String,
      hotKeys: Seq[Any]): DataFrame = {
    val hotLit: Seq[Column] = hotKeys.map(lit)
    val hotL = left.filter(col(key).isin(hotLit: _*))
    val coldL = left.filter(!col(key).isin(hotLit: _*))
    val hotR = right.filter(col(key).isin(hotLit: _*))
    hotL.join(broadcast(hotR), key).unionByName(coldL.join(right, key))
  }

  /** Persist both sides bucketed by the join key so subsequent joins are
    * exchange-free (co-located): `bucketBy` pre-shuffles once at write
    * time; every later join on `key` reads co-partitioned buckets. This is
    * the "pay the shuffle once, reuse forever" pattern for fact-fact joins
    * repeated across a pipeline. Tables land in the session catalog
    * (`spark.sql.warehouse.dir`).
    *
    * Re-runnable by construction: a managed-table CREATE fails loudly if
    * the catalog has forgotten the table but its warehouse directory
    * survived (a fresh in-memory-catalog JVM over a prior run's files),
    * so any orphaned location is deleted before the write — through the
    * Hadoop FileSystem of the warehouse URI, so the cleanup works the
    * same on `hdfs://`/`s3a://`/authority-bearing `file://` warehouses
    * (a `java.io.File` delete silently no-ops on all of those, returning
    * the CREATE-over-survivors failure this path exists to prevent).
    *
    * Concurrency-safe across sessions sharing a warehouse (or a shared
    * external catalog via `newSession()`): the PHYSICAL table name is
    * scoped by a per-session id, so two sessions bucketizing the same
    * logical name never race each other's DROP/delete/CREATE. The
    * returned frame reads the session's own physical table.
    *
    * Session-end cleanup: the first physical table a session creates
    * installs one [[sessionEndListener]] on its context, and on
    * application end it drops every table that session landed — the
    * catalog entry (via a WEAK session reference, so registration never
    * pins the session) and the warehouse files, through the warehouse
    * URI's Hadoop FileSystem. Only a session KILLED without its context
    * ever stopping still orphans files — that residue is the warehouse
    * TTL policy's janitorial surface, now the exception rather than the
    * rule.
    */
  def bucketize(spark: SparkSession, df: DataFrame, table: String,
      key: String, buckets: Int = 32): DataFrame = {
    val phys = physicalName(spark, table)
    spark.sql(s"DROP TABLE IF EXISTS `$phys`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), phys)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = loc.getFileSystem(hadoopConf)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(phys)
    landedTables(spark).putIfAbsent(phys, drop(spark, phys, loc, hadoopConf))
    spark.table(phys)
  }

  /** Stable per-session id. Spark's public SparkSession exposes no
    * session UUID, so one is minted: the map is weakly keyed and its
    * String values hold no reference to the session, so a dropped
    * session's entry is collectable.
    */
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  private[graft] def sessionId(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark,
      _ => java.util.UUID.randomUUID().toString.replace("-", ""))

  /** The session-scoped PHYSICAL name [[bucketize]] writes `table` under. */
  private[graft] def physicalName(spark: SparkSession, table: String): String =
    s"${table}_${sessionId(spark)}"

  /** Per session id: each physical table landed, with the cleanup that
    * drops it. Keyed by the id String, never the session, so an entry
    * never pins its session.
    */
  private val landed = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.ConcurrentHashMap[String, () => Unit]]()

  /** This session's landed tables, installing its [[sessionEndListener]]
    * the first time the session lands one. */
  private def landedTables(spark: SparkSession) = {
    val sid = sessionId(spark)
    landed.computeIfAbsent(sid, _ => {
      spark.sparkContext.addSparkListener(sessionEndListener(sid))
      new java.util.concurrent.ConcurrentHashMap[String, () => Unit]()
    })
  }

  /** Best-effort drop of one landed table. The session is held weakly:
    * a cleanup strongly capturing it would pin it in [[landed]]. If the
    * session is already collected, the catalog died with it; the file
    * delete still runs.
    */
  private def drop(spark: SparkSession, phys: String,
      loc: org.apache.hadoop.fs.Path,
      hadoopConf: org.apache.hadoop.conf.Configuration): () => Unit = {
    val weakSpark = new java.lang.ref.WeakReference(spark)
    () => {
      val s = weakSpark.get()
      if (s != null && !s.sparkContext.isStopped) {
        try s.sql(s"DROP TABLE IF EXISTS `$phys`")
        catch { case scala.util.control.NonFatal(_) => () }
      }
      try {
        val fsys = loc.getFileSystem(hadoopConf)
        if (fsys.exists(loc)) fsys.delete(loc, true)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** The application-end cleanup, factored so a spec can fire it
    * directly: delivery of `onApplicationEnd` at context stop is Spark's
    * contract, the drops it triggers are ours.
    */
  private[graft] def sessionEndListener(sessionId: String): SparkListener =
    new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
        val tables = landed.remove(sessionId)
        if (tables != null) tables.values.forEach(_.apply())
      }
    }

  /** Gated entry for [[skewSplitJoin]]: enrich every event with its
    * user's market segment, routing the heaviest users through the
    * broadcast slice. The hot set is DISCOVERED, not assumed — a top-k
    * count probe whose driver pull is bounded by `limit(topK)` (the
    * repo's bounded-collect contract; k rows of one long each). The
    * split is correctness-invariant for ANY hot set — hot and cold
    * slices partition the key space and union back to exactly the plain
    * inner join — so the oracle is that plain join, and the probe's
    * choice can never change the result, only the routing. At 100 TB
    * the probe is one map-side-combined count over the fact table
    * (amortizable: production pipelines persist last run's heavy-hitter
    * list), and the payoff is that the hottest keys' rows never enter
    * the shuffle that their skew would otherwise stall.
    */
  def skewSplitJoinEvents(spark: SparkSession, dir: String,
      topK: Int = 8): DataFrame = {
    val t = Tables(spark, dir)
    val ev = t.events.select(col("event_id"), col("user_id"),
      col("event_type"), col("value"))
    val dim = t.customer.select(col("c_custkey").as("user_id"),
      col("c_mktsegment"))
    val hot: Seq[Any] = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id"))
      .limit(topK)
      .collect().map(_.getLong(0)).toSeq
    skewSplitJoin(ev, dim, "user_id", hot)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_mktsegment"), round(col("value"), 2).as("value"))
      .orderBy(col("event_id"))
  }

  /** Gated entry for [[bucketize]]: both join sides land in the catalog
    * bucketed by the customer key, then the per-customer order rollup
    * reads co-partitioned buckets — the scan's HashPartitioning(key)
    * satisfies BOTH the join and the groupBy distribution, so the whole
    * query plans without a single hash exchange (only the presentation
    * range-sort shuffles; SkewSpec's "bucket_join gate: no hash exchange
    * anywhere…" pins the exchange-free property). The write pays the
    * one shuffle-equivalent pass that every later join on the key skips
    * — the standard layout investment for a fact table joined
    * repeatedly across a pipeline. Grouping keys come from the BUCKETED
    * side (`o_custkey`) so the partitioning guarantee propagates through
    * the join regardless of which side the planner builds.
    */
  def bucketJoinOrders(spark: SparkSession, dir: String,
      buckets: Int = 16): DataFrame = {
    val t = Tables(spark, dir)
    val bo = bucketize(spark, t.orders.select(col("o_custkey"),
      col("o_totalprice")), "graft_b_orders", "o_custkey", buckets)
    val bc = bucketize(spark, t.customer.select(col("c_custkey"),
      col("c_mktsegment")), "graft_b_customer", "c_custkey", buckets)
    bo.join(bc, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_custkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_spend"))
      .select(col("o_custkey").as("c_custkey"), col("c_mktsegment"),
        col("n_orders"), col("total_spend"))
      .orderBy(col("c_custkey"))
  }
}
