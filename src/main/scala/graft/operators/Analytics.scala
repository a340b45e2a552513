package graft.operators

import graft.Engine.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second tier of relational analytics — the operator families a user of
  * the reference would reach for next once the §2.3 workloads are native
  * (ordered statistics, moment statistics, sessionization, grouping
  * sets, the full window-function family, TF-IDF) plus the skew-salting
  * pattern the 100 TB design notes call for. All queries are
  * DuckDB-oracle-gated; float columns are emitted rounded with
  * engine-exact ordering keys.
  */
object Analytics {

  /** Exact interpolated percentiles (quartiles) of l_quantity per return
    * flag. Quartile fractions are picked deliberately: positions
    * 0.25·(n-1) and quarter interpolation weights are binary-exact, and
    * l_quantity is integer-valued, so `lower + frac·(upper-lower)` is
    * exact double arithmetic — identical in any engine regardless of how
    * the interpolation is associated. (0.9-style fractions would put an
    * inexact 0.1 into the product and expose cross-engine ulp noise.)
    * One sort-based agg per group, no window.
    */
  def q20Percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("q"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        element_at(col("q"), 1).as("p25"),
        element_at(col("q"), 2).as("p50"),
        element_at(col("q"), 3).as("p75"),
        col("min_qty"), col("max_qty"), col("n"))
      .orderBy(col("l_returnflag"))

  /** Moment statistics per return flag: correlation, sample covariance,
    * sample stddev and regression slope of price on quantity. All are
    * single-pass partial-aggregable (Welford merge) — one shuffle of
    * 6 groups × O(1) state, the shape that holds at any scale. Rounded
    * for cross-engine float stability (summation order differs between
    * engines; the statistics are smooth so 2-4 decimals absorb it).
    */
  def q21Stats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qty_price"),
        round(stddev_samp(col("l_extendedprice")), 2).as("stddev_price"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 2).as("slope_price_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** Gap-based sessionization of the events stream, batch formulation:
    * a session breaks when a user is idle > `gapMinutes`. Classic
    * two-window shape — lag() to flag boundaries, running sum to number
    * sessions — then one aggregation per session. All time arithmetic is
    * exact integer µs (`ts div 1000` off the Long-ns column — double
    * math would lose precision above 2^53, and µs is deliberately the
    * comparison resolution: engines that load TIMESTAMP(NANOS) parquet
    * at microsecond precision, DuckDB included, must see the identical
    * gap and ordering decisions or knife-edge events flake the
    * compare). Ordering inside a user is (µs, event_id): event_id is
    * unique, so session numbering is deterministic even for same-µs
    * events. Scale shape: both windows and the final agg shuffle ONCE
    * on user_id (Spark reuses the partitioning across the three), no
    * driver state.
    */
  def q22Sessions(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame =
    sessionize(Tables(spark, dir).events, gapMinutes)

  /** Core sessionization over any (user_id, event_id, ts-ns) frame. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("tus"))
      .withColumn("new_session",
        when(col("tus") - lag(col("tus"), 1).over(byUser) > gapUs
          || lag(col("tus"), 1).over(byUser).isNull, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("tus")).as("start_us"),
        max(col("tus")).as("end_us"))
      .withColumn("duration_us", col("end_us") - col("start_us"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** CUBE over (region, market segment): all four grouping-set shapes in
    * one pass (Spark expands to a single Expand + one hash agg — one
    * shuffle, 4× the group rows, not 4 scans).
    */
  def q23GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(t.nation, col("c_nationkey") === col("n_nationkey"))
      .join(t.region, col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("total_acctbal"))
      .orderBy(col("r_name").asc_nulls_first, col("c_mktsegment").asc_nulls_first)
  }

  /** The full window-function family over orders, partitioned by
    * customer: ranking with ties (priority has duplicates per customer —
    * rank/dense_rank/percent_rank are still deterministic because peers
    * share a value), ntile over a unique total order, and lead/lag
    * navigation. One window partition spec → one shuffle + sort serves
    * every function.
    */
  def q24WindowSuite(spark: SparkSession, dir: String): DataFrame = {
    val byKey = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    val byPrio = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderpriority"))
    Tables(spark, dir).orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"))
      .withColumn("rn", row_number().over(byKey))
      .withColumn("prio_rank", rank().over(byPrio))
      .withColumn("prio_dense", dense_rank().over(byPrio))
      .withColumn("prio_prank", round(percent_rank().over(byPrio), 6))
      .withColumn("tile4", ntile(4).over(byKey))
      .withColumn("prev_price", round(lag(col("o_totalprice"), 1).over(byKey), 2))
      .withColumn("next_price", round(lead(col("o_totalprice"), 1).over(byKey), 2))
      .select(col("o_custkey"), col("o_orderkey"), col("rn"), col("prio_rank"),
        col("prio_dense"), col("prio_prank"), col("tile4"),
        col("prev_price"), col("next_price"))
      .orderBy(col("o_orderkey"))
  }

  /** TF-IDF top terms per document: tf from one (doc, term) agg, df from
    * one term-level agg of the same pre-aggregated rows (never the raw
    * token stream twice), idf = ln((N+1)/(df+1)), top-3 terms per doc by
    * rounded score with term tiebreak. The df side joins back on term —
    * a broadcast in practice (vocabulary ≪ corpus); at 100 TB the
    * vocabulary is still executor-memory-small after the first agg.
    */
  def q25Tfidf(spark: SparkSession, dir: String, topK: Int = 3): DataFrame = {
    val docs = Tables(spark, dir).documents
    // corpus cardinality stays IN the plan (single-row aggregate broadcast-
    // cross-joined onto the scored rows, exactly like the oracle's CROSS
    // JOIN n) so building this DataFrame stays lazy like every other entry
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(TextAnalysis.whitespaceTokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term").crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("doc_id"), col("rk"), col("term"), col("score"), col("tf"), col("df"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Correlated scalar subquery (TPC-H Q17 shape), deliberately written
    * as SQL so Catalyst's decorrelation does the rewrite: "lineitems
    * ordering less than 20% of their part's average quantity" becomes a
    * per-part aggregate joined back to the fact — no per-row re-scan,
    * which is the difference between O(n) and O(n²) at any scale. The
    * threshold compare is cross-engine exact: avg of integer-valued
    * doubles is a correctly-rounded division of exact sums, identical in
    * any IEEE engine.
    */
  def q26Correlated(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem.createOrReplaceTempView("lineitem")
    t.part.createOrReplaceTempView("part")
    spark.sql("""
      SELECT p_brand,
             round(sum(l_extendedprice) / 7.0, 2) AS avg_weekly,
             count(*) AS n_small_orders
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE l_quantity < (SELECT 0.2 * avg(l_quantity)
                          FROM lineitem WHERE l_partkey = p_partkey)
      GROUP BY p_brand ORDER BY p_brand""")
  }

  /** Time-based sliding aggregation: trailing one-hour sum/count per
    * user over the event stream, as a RANGE window frame (frame bounds
    * are VALUE offsets on exact integer-µs timestamps — µs, not ns, so
    * engines whose parquet reader is µs-resolution compute the identical
    * frame; peers at equal ts are all included, so the result is
    * deterministic even under ordering ties — the property ROWS frames
    * lack). One shuffle+sort on user_id serves both aggregates.
    */
  def q27RangeWindow(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
      .rangeBetween(-hourUs, Window.currentRow)
    Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("tus"), col("value"))
      .withColumn("hour_sum", round(sum(col("value")).over(w), 2))
      .withColumn("hour_n", count(lit(1)).over(w))
      .select(col("event_id"), col("user_id"), col("hour_sum"), col("hour_n"))
      .orderBy(col("event_id"))
  }

  /** Skew-safe two-phase aggregation: pre-aggregate on (key, salt) so a
    * pathologically hot key spreads over `salts` reducers before the
    * final per-key merge. Results are identical to the plain groupBy
    * (the oracle IS the plain groupBy) — only the shuffle layout
    * changes. events.event_type has 5 values over millions of rows: the
    * exact key profile where an unsalted shuffle puts whole keys on
    * single reducers. The salt is derived from event_id, not random —
    * deterministic replay, engine-portable.
    */
  def skewSaltedAgg(spark: SparkSession, dir: String, salts: Int = 64): DataFrame =
    Tables(spark, dir).events
      .withColumn("salt", pmod(col("event_id"), lit(salts)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(col("value")).as("pv"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n_events"), round(sum(col("pv")), 2).as("total_value"))
      .orderBy(col("event_type"))

  /** Array + higher-order function suite: per order, collect the line
    * quantities into a sorted array, then compute everything else INSIDE
    * the array — length, fold-sum, filtered count, head transform. One
    * shuffle (the collect_list groupBy, map-side partial); the
    * higher-order passes are per-row and add nothing to shuffle volume.
    * Quantities are integer-valued (1..50), cast to long so the fold is
    * exact integer arithmetic in any engine. sort_array makes the
    * collect_list order (partition-arrival, nondeterministic)
    * deterministic before anything order-sensitive reads it.
    */
  def q28ArrayFns(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .select(col("l_orderkey"), col("l_quantity").cast("long").as("q"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("q"))).as("qtys"))
      .select(
        col("l_orderkey"),
        size(col("qtys")).as("n_items"),
        expr("aggregate(qtys, 0L, (a, x) -> a + x)").as("total_qty"),
        size(expr("filter(qtys, x -> x > 25)")).as("n_heavy"),
        expr("element_at(qtys, 1) * 2").as("min_qty_x2"),
        expr("element_at(qtys, -1)").as("max_qty"))
      .orderBy(col("l_orderkey"))

  /** Calendar + regexp scalar-function suite over orders: date-part
    * extraction, month truncation, day arithmetic against a fixed epoch,
    * end-of-month, and regexp capture/replace on the priority code.
    * Pure narrow projection — no shuffle but the final presentation
    * sort; every function is codegen'd (no UDFs), and all outputs are
    * integers/strings so the oracle compare is exact. Timestamps are
    * emitted as epoch microseconds (the engine-portable form — see
    * q14/q16).
    */
  def q29DatesRegex(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("o_year"),
        quarter(col("o_orderdate")).as("o_quarter"),
        month(col("o_orderdate")).as("o_month"),
        dayofmonth(col("o_orderdate")).as("o_day"),
        unix_micros(date_trunc("month", col("o_orderdate"))).as("month_start_us"),
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
          .as("days_since_95"),
        last_day(col("o_orderdate")).cast("string").as("eom"),
        regexp_extract(col("o_orderpriority"), "^(\\d)-", 1).cast("int")
          .as("priority_num"),
        regexp_replace(lower(col("o_orderpriority")), "^\\d-", "")
          .as("priority_name"))
      .orderBy(col("o_orderkey"))

  /** Cohort retention matrix: users grouped by first-seen day, activity
    * counted as distinct users per (cohort day, day offset) — the
    * product-analytics staple. Day is integer µs-epoch division (the
    * engine-portable time bucket, see q14); the first-seen day is a
    * window min over user_id — high-cardinality partitioning, no skew —
    * and the matrix agg is one shuffle on (cohort_day, offset). Exact
    * distinct is fine at any scale here because the matrix is bounded
    * (days × days), though each cell's distinct-user set shuffles; an
    * HLL variant (q18 machinery) is the knob if cells get hot.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val day = expr("ts div 1000 div 86400000000")
    Tables(spark, dir).events
      .select(col("user_id"), day.as("day"))
      .withColumn("cohort_day", min(col("day")).over(Window.partitionBy(col("user_id"))))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Ordered funnel: per user, the first 'view', the first 'click'
    * AFTER that view, the first 'purchase' after that click — stage
    * reached plus the three µs timestamps (-1 when the stage was never
    * reached, keeping the output null-free for exact comparison).
    *
    * Shape: three chained `min(when(...))` full-partition windows over
    * user_id — each stage's condition references the previous stage's
    * (partition-constant) timestamp, so "first click after the first
    * view" is one window expression, no self-join. All three windows
    * AND the final collapse share a single user_id hash partitioning:
    * the 100 TB events table is scanned once and shuffled once
    * (plan-asserted in PlanSpec) — versus the naive per-stage
    * filter+agg+join chain, which reads the fact table once per stage.
    * Timestamps compare at µs on every engine (ns precision dies at the
    * oracle boundary — see the project notes).
    */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables(spark, dir).events
      .select(col("user_id"), expr("ts div 1000").as("us"), col("event_type"))
      .withColumn("v_us",
        min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("c_us",
        min(when(col("event_type") === "click" && col("us") > col("v_us"),
          col("us"))).over(w))
      .withColumn("p_us",
        min(when(col("event_type") === "purchase" && col("us") > col("c_us"),
          col("us"))).over(w))
      .groupBy(col("user_id"))
      .agg(min(col("v_us")).as("mv"), min(col("c_us")).as("mc"),
        min(col("p_us")).as("mp"))
      .select(
        col("user_id"),
        when(col("mp").isNotNull, 3).when(col("mc").isNotNull, 2)
          .when(col("mv").isNotNull, 1).otherwise(0).as("stage"),
        coalesce(col("mv"), lit(-1L)).as("v_us"),
        coalesce(col("mc"), lit(-1L)).as("c_us"),
        coalesce(col("mp"), lit(-1L)).as("p_us"))
      .orderBy(col("user_id"))
  }

  /** Wide→long reshape (the inverse of q19's pivot): per-returnflag
    * measures melted into (l_returnflag, measure, val) rows via
    * `Dataset.unpivot` — Spark plans it as a single Expand over the
    * aggregate, no join, no shuffle beyond the agg's own. All three
    * measures are exact integers cast to double, so the common value
    * column is engine-exact.
    */
  def q30Unpivot(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables(spark, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).cast("double").as("n_rows"),
        max(col("l_linenumber")).cast("double").as("max_line"))
    wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("n_rows"), col("max_line")),
        "measure", "val")
      .orderBy(col("l_returnflag"), col("measure"))
  }

  /** Time-series resample + forward fill: per sampled user, an hourly
    * grid spanning their [first, last] observed hour, each slot carrying
    * the hour's max value if observed, else the most recent observed
    * hour's value (last-observation-carried-forward). The grid comes
    * from `sequence()` + explode — generated INSIDE the row, no driver
    * loop, no cross join with a calendar table — and the fill is one
    * `last(ignoreNulls)` running window per user: partitioned by
    * user_id, so thousands of small windows, never a global sort. Hour =
    * integer µs-epoch division (engine-portable, see q14); hr_max is a
    * max — an input double, bit-exact in any engine, no rounding needed.
    */
  def q31Resample(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .filter(col("user_id") % 50 === 0)
      .select(col("user_id"), expr("ts div 1000 div 3600000000").as("hr"),
        col("value"))
    val hourly = ev.groupBy(col("user_id"), col("hr"))
      .agg(max(col("value")).as("hr_max"))
    val slots = hourly.groupBy(col("user_id"))
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("hr"))
    slots.join(hourly, Seq("user_id", "hr"), "left")
      .select(col("user_id"), col("hr"),
        col("hr_max").isNotNull.as("is_observed"),
        last(col("hr_max"), ignoreNulls = true).over(
          Window.partitionBy(col("user_id")).orderBy(col("hr"))).as("filled"))
      .orderBy(col("user_id"), col("hr"))
  }
}
