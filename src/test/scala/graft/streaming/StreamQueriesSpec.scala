package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end tests of the driver-gated streaming queries: each runs a
  * real file-source Structured Streaming query through the idempotent
  * parquet sink and must land exactly what the batch twin computes —
  * the Spark-side restatement of the DuckDB oracle each entry gates on.
  */
class StreamQueriesSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  test("stream_quality lands the batch wide-admission result") {
    val got = StreamQueries.qualityDocs(spark, dir)
    val want = graft.operators.QualityModel
      .logitScoreWide(graft.Engine.Tables(spark, dir).documents)
      .filter(col("keep") === 1)
    assert(got.columns.sorted === want.columns.sorted)
    val cols = want.columns.sorted.toIndexedSeq.map(col)
    assert(got.select(cols: _*).collect().toSet ===
      want.select(cols: _*).collect().toSet)
  }

  test("stream_dedup lands one survivor per content class") {
    val got = StreamQueries.dedupDocs(spark, dir).collect().map(_.getString(0))
    val want = graft.Engine.Tables(spark, dir).documents
      .select(md5(col("text"))).distinct().collect().map(_.getString(0))
    assert(got.length === want.length) // no class lost, none duplicated
    assert(got.toSet === want.toSet)
  }

  test("stream_funnel lands the batch funnel frontier") {
    val got = StreamQueries.funnelEvents(spark, dir).collect().toSet
    val want = graft.operators.Analytics.funnelStages(spark, dir).collect().toSet
    assert(got === want)
  }

  test("stream_hourly lands finalized windows under the ms-floored watermark cutoff") {
    val got = StreamQueries.hourlyEvents(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val events = graft.Engine.Tables(spark, dir).events
    val maxMs = events.agg(max(expr("ts div 1000000"))).head().getLong(0)
    val wmUs = (maxMs - 3600000L) * 1000L
    val want = events
      .groupBy(expr("(ts div 3600000000000) * 3600000000").as("hour_us"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
      .filter(col("hour_us") + 3600000000L <= wmUs)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("stream_sessions lands gaps-and-islands sessions under the timeout rule") {
    import org.apache.spark.sql.expressions.Window
    val got = StreamQueries.sessionsEvents(spark, dir).collect().toSet
    val ev = graft.Engine.Tables(spark, dir).events
      .select(col("user_id"), expr("ts div 1000000").as("ms"),
        floor(col("value") * lit(1e6)).as("v"))
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ms"))
    val sess = ev
      .withColumn("pms", lag(col("ms"), 1).over(wOrd))
      .withColumn("fresh",
        when(col("pms").isNull || col("ms") - col("pms") > 1800000L, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("fresh")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ms")).as("start_ms"), max(col("ms")).as("end_ms"),
        count(lit(1)).cast("int").as("n_events"),
        sum(col("v")).cast("double").as("total_value"))
    val wmMs = ev.agg(max(col("ms"))).head().getLong(0) - 3600000L
    val maxSid = sess.groupBy(col("user_id"))
      .agg(max(col("sid")).as("max_sid"))
    val want = sess.join(maxSid, "user_id")
      .filter(col("sid") < col("max_sid") ||
        col("end_ms") + 1800000L < wmMs)
      .select("user_id", "start_ms", "end_ms", "n_events", "total_value")
      .collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("stream_pipeline lands the batch-curated content classes") {
    val got = StreamQueries.pipelineDocs(spark, dir).collect().toSet
    val docs = graft.Engine.Tables(spark, dir).documents
    val cleanIds = graft.operators.Dedup.decontaminate(
      docs, docs.filter(col("doc_id") % 20 === 0))
    val want = graft.operators.QualityModel
      .logitScoreWide(docs.join(cleanIds, "doc_id"))
      .filter(col("keep") === 1)
      .select(md5(col("text")).as("fp"), col("z"), col("prob"))
      .distinct().collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("stream_join lands the batch interval join") {
    val got = StreamQueries.joinEvents(spark, dir).collect().toSet
    // the transform is source-agnostic: run it on the batch frame
    val want = Streaming.purchasesWithRecentClicks(
        graft.Engine.Tables(spark, dir).events)
      .select(col("purchase_id"), col("user_id"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        unix_micros(col("click_ts")).as("click_us"))
      .collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("stream_topk / stream_enrich / stream_fingerprint land their batch twins") {
    val ev = graft.Engine.Tables(spark, dir).events
    assert(StreamQueries.leaderboardEvents(spark, dir).collect().toSeq ===
      Streaming.topKLeaderboard(ev).collect().toSeq)
    assert(StreamQueries.enrichEvents(spark, dir)
        .orderBy("event_id").collect().toSeq ===
      Streaming.enrichWithDim(ev, Streaming.userDim(spark, dir))
        .orderBy("event_id").collect().toSeq)
    val docs = graft.Engine.Tables(spark, dir).documents
    assert(StreamQueries.fingerprintDocs(spark, dir).collect().toSet ===
      Streaming.fingerprintStream(docs).collect().toSet)
  }

  test("stream_admit lands the per-language doc_id-order prefix-sum admission") {
    import org.apache.spark.sql.expressions.Window
    val got = StreamQueries.admitDocs(spark, dir).collect().toSet
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = graft.Engine.Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("tok"))
      .withColumn("off", coalesce(sum(col("tok")).over(w), lit(0L)))
      .filter(col("off") < StreamQueries.AdmitBudget)
      .collect().toSet
    assert(got === want)
    // the budget actually cuts: some language must have dropped docs
    assert(got.size < graft.Engine.Tables(spark, dir).documents.count())
  }

  test("stream_best_of_n lands the batch rejection-sampling selection") {
    val got = StreamQueries.bestOfNEvents(spark, dir).collect().toSet
    val want = graft.SparkEntry.queries("best_of_n")(spark, dir).collect().toSet
    assert(got.nonEmpty)
    assert(got === want)
  }
}
