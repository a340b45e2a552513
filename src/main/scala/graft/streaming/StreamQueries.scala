package graft.streaming

import graft.sources.LineTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-gated streaming queries: each entry builds a REAL Structured
  * Streaming query over the fixture parquet (file source → transform →
  * [[Streaming.idempotentParquetSink]]), drains it to completion, and
  * returns the landed output read back as a batch DataFrame — so the
  * driver's batch-only DuckDB gate now checks genuine streaming output
  * hash-for-hash, closing the "streaming surface is outside the gate"
  * gap (it previously had only CI-side StreamGate parity tests).
  *
  * Determinism rules (what makes a streaming query gate-able):
  *  - the file source reads ALL fixture files in micro-batch 0 (no
  *    `maxFilesPerTrigger` cap), so arrival order is the deterministic
  *    per-batch order each stateful transform imposes (sort by doc_id /
  *    event time inside the group iterator);
  *  - stateless transforms (quality filter) are per-row pure;
  *  - watermark-governed emission (hourly windows) is pinned by the
  *    oracle applying the SAME cutoff: after the last batch the global
  *    watermark is max(event_ts) − delay, and append mode emits exactly
  *    the windows whose end ≤ watermark (verified empirically; Spark
  *    evicts on `window.end <= watermark`, `StateStoreSaveExec`'s
  *    watermark predicate is non-strict on the boundary);
  *  - outputs that would expose which physical row of an equivalence
  *    class survived (content dedup) are projected down to the class
  *    key, which IS deterministic.
  *
  * Each run lands in a fresh scratch directory (fresh checkpoint + empty
  * output satisfies the sink's pairing guard; [[graft.Scratch]] deletes
  * it at JVM exit), so gate runs are independent and re-entrant.
  */
object StreamQueries {

  /** Per-language streaming token budget for [[admitDocs]] — small
    * enough that every fixture SF exercises the cut (the smallest
    * language carries ~3.5k tokens at sf0.01).
    */
  val AdmitBudget = 2000L

  private def gateDir(name: String): String = graft.Scratch.dir(s"graft-gate-$name-")

  /** Streaming scan of the documents fixture (schema from a batch peek,
    * as [[Streaming.streamEvents]] does for events).
    */
  private def streamDocs(spark: SparkSession, dir: String): DataFrame = {
    // cached peek — see Streaming.streamEvents
    val schema = graft.Engine.cachedSchema(spark, s"$dir/documents.parquet")
    // {} glob: accept a single-file fixture (see Streaming.streamEvents)
    spark.readStream.schema(schema).parquet(s"$dir/{documents.parquet}")
  }

  /** Gated [[Streaming.qualityFilterStream]]: stateless logistic
    * admission with the original columns riding through — the landed
    * parquet IS the admitted corpus, checked wide (text and metadata
    * included) against the same-weights DuckDB model.
    */
  def qualityDocs(spark: SparkSession, dir: String): DataFrame =
    StreamGate.runToParquet(spark,
      s => Streaming.qualityFilterStream(streamDocs(s, dir)),
      gateDir("quality"))()
      .orderBy("doc_id")

  /** Gated [[Streaming.dedupContentStream]]: content dedup keyed on the
    * full md5. WHICH physical duplicate survives depends on partition
    * arrival order (not deterministic), so the gate checks the
    * deterministic projection: the surviving fingerprint SET, which
    * must equal DuckDB's `DISTINCT md5(text)` exactly — i.e. one
    * survivor per content class, none lost, none duplicated. Event time
    * is synthesized from doc_id (µs) so the whole fixture sits inside
    * one watermark horizon: every duplicate is in-horizon and MUST be
    * dropped.
    */
  def dedupDocs(spark: SparkSession, dir: String): DataFrame = {
    // +1s offset: a doc_id-0 row at exactly epoch 0 would sit ON the
    // initial watermark and be discarded as expired before dedup
    StreamGate.runToParquet(spark,
      { s =>
        val docs = streamDocs(s, dir)
          .withColumn("event_ts", timestamp_micros(col("doc_id") + lit(1000000L)))
        Streaming.dedupContentStream(docs).select("fp")
      },
      gateDir("dedup"))()
      .orderBy("fp")
  }

  /** Gated [[Streaming.funnelStream]]: the mapGroupsWithState funnel
    * state machine (Update output mode — the mode that operator
    * requires). All events arrive in micro-batch 0 and the group
    * iterator is event-time-sorted, so the emitted per-user frontier
    * equals the batch funnel — the gate proves the STATEFUL streaming
    * path against the same oracle SQL that gates `funnel_stages`.
    */
  def funnelEvents(spark: SparkSession, dir: String): DataFrame = {
    StreamGate.runToParquet(spark,
      s => Streaming.funnelStream(
        Streaming.funnelInput(Streaming.streamEvents(s, dir))).toDF(),
      gateDir("funnel"), outputMode = "update")()
      .orderBy("user_id")
  }

  /** Gated [[Streaming.hourlyCounts]]: watermarked tumbling windows in
    * append mode. Append emits a window only once the watermark passes
    * its end, so on a finite fixture the landed set is the windows with
    * `end ≤ max(event_ts) − 1h` — the oracle applies the identical
    * cutoff, making watermark semantics themselves part of what the
    * gate checks. The window start is re-encoded as epoch µs on the
    * (batch) read-back side to keep the compare timezone-free.
    */
  def hourlyEvents(spark: SparkSession, dir: String): DataFrame = {
    StreamGate.runToParquet(spark,
      s => Streaming.hourlyCounts(Streaming.streamEvents(s, dir)),
      gateDir("hourly"))()
      .select(unix_micros(col("hour")).as("hour_us"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy("hour_us", "event_type")
  }

  /** Gated [[Streaming.mixDriftStream]]: the live ingest-composition
    * alarm — per finalized event-time hour, each tracked event type's
    * share of the window vs the broadcast batch reference mix (here:
    * the same fixture corpus, so the oracle derives the identical
    * reference shares), drift-flagged past the micro-share threshold.
    * Append-mode watermark cutoff is the stream_hourly rule: the
    * landed set is exactly the windows with `end ≤ max(event time) −
    * 1h`, restated oracle-side; every share/ref/flag is exact integer
    * micro-unit arithmetic, so the whole alarm surface — including
    * which (window, type) cells fired — is hash-gated.
    */
  def mixDriftEvents(spark: SparkSession, dir: String): DataFrame = {
    StreamGate.runToParquet(spark,
      { s =>
        val ref = Streaming.eventTypeSharesMicro(
          graft.Engine.Tables(s, dir).events)
        Streaming.mixDriftStream(Streaming.streamEvents(s, dir), ref)
      },
      gateDir("mixdrift"))()
      .orderBy("hour_us", "event_type")
  }

  /** Gated [[Streaming.simhashQuarantineStream]]: the stateful
    * banded-bucket near-dup quarantine. Deterministic under the gate's
    * single-batch arrival: the group iterator sorts by doc_id, so
    * "earlier" means smaller id, and the newest-first state probe makes
    * the matched doc the LARGEST matching earlier id — which is exactly
    * what the oracle's arg_max restates. The gate runs with the
    * per-bucket FIFO cap effectively disabled: similar synthetic texts
    * CLUSTER on band values (fixture buckets reach ~270 occupants, well
    * past the production default of 64), and an evicted fingerprint is
    * a silently lost match the SQL oracle would still find — the cap is
    * a recall-for-state trade for production tuning, not part of the
    * exact semantics under test.
    */
  def quarantineDocs(spark: SparkSession, dir: String): DataFrame =
    StreamGate.runToParquet(spark,
      s => Streaming.simhashQuarantineStream(streamDocs(s, dir),
        bucketCap = Int.MaxValue).toDF(),
      gateDir("quarantine"))()
      .orderBy("doc_id", "band")

  /** Gated [[Streaming.sessionize]]: gap-based sessionization in
    * `flatMapGroupsWithState` with event-time timeout eviction — the
    * most state-machinery a streaming operator here carries (append
    * mode, per-key accumulator, watermark-armed timeouts). Determinism:
    * `value` is pre-quantized to integer micro-units so session sums
    * are exact in any accumulation order (same-ms event order within a
    * group is arbitrary, but min/max/count/integer-sum don't care); the
    * emitted set is (a) sessions closed in-batch by a later event of
    * the same user, plus (b) sessions whose armed timeout
    * (last + gap) fell strictly below the final watermark
    * (max event-time − 1h, ms-floored) — the oracle restates exactly
    * that via gaps-and-islands SQL, so timeout semantics are under
    * test, not assumed.
    */
  def sessionsEvents(spark: SparkSession, dir: String): DataFrame = {
    StreamGate.runToParquet(spark,
      { s =>
        val ev = Streaming.streamEvents(s, dir)
          .withColumn("value", floor(col("value") * lit(1e6)))
        Streaming.sessionize(Streaming.sessionInput(ev)).toDF()
      },
      gateDir("sessions"))()
      .orderBy("user_id", "start_ms")
  }

  /** Gated [[Streaming.purchasesWithRecentClicks]]: the WATERMARKED
    * STREAM-STREAM JOIN — both sides buffer state, the event-time
    * predicate bounds it, and inner-join matches emit as found (the
    * watermark governs state cleanup, not emission, so a finite input
    * emits every match). The result SET is therefore exactly the batch
    * interval join, which is what the oracle states.
    */
  def joinEvents(spark: SparkSession, dir: String): DataFrame = {
    StreamGate.runToParquet(spark,
      s => Streaming.purchasesWithRecentClicks(Streaming.streamEvents(s, dir))
        .select(col("purchase_id"), col("user_id"),
          unix_micros(col("purchase_ts")).as("purchase_us"),
          unix_micros(col("click_ts")).as("click_us")),
      gateDir("join"))()
      .orderBy("purchase_id", "click_us")
  }

  /** Gated [[Streaming.enrichWithDim]]: the stream-static broadcast
    * join — the static side ([[Streaming.userDim]], each user's modal
    * event type with deterministic ties) is re-planned per micro-batch
    * and broadcast; rows are stateless, so the landed set equals the
    * batch left join.
    */
  def enrichEvents(spark: SparkSession, dir: String): DataFrame = {
    StreamGate.runToParquet(spark,
      s => Streaming.enrichWithDim(
        Streaming.streamEvents(s, dir), Streaming.userDim(s, dir)),
      gateDir("enrich"))()
      .orderBy("event_id")
  }

  /** Gated [[Streaming.topKLeaderboard]]: COMPLETE output mode — the
    * per-key counts are incrementally-maintained streaming state and
    * every micro-batch re-emits the full re-ranked leaderboard into its
    * own batch directory. The gate reads the final batch's table (the
    * idempotent sink's layout makes "latest complete emission" a
    * partition filter), which after draining equals the batch top-k.
    */
  def leaderboardEvents(spark: SparkSession, dir: String): DataFrame = {
    val outDir = gateDir("topk")
    val all = StreamGate.runToParquet(spark,
      s => Streaming.topKLeaderboard(Streaming.streamEvents(s, dir)),
      outDir, outputMode = "complete",
      keepBatchId = true)()
    // partition discovery infers batch_id as int
    val last = all.agg(max(col("batch_id").cast("long"))).head().getLong(0)
    all.filter(col("batch_id") === last).drop("batch_id")
      .orderBy(col("n_events").desc, col("user_id"))
  }

  /** Gated [[Streaming.fingerprintStream]]: stateless codegen
    * fingerprint enrichment — same expressions as the batch text
    * operators, so the streaming plan IS the batch plan per batch.
    */
  def fingerprintDocs(spark: SparkSession, dir: String): DataFrame =
    StreamGate.runToParquet(spark,
      s => Streaming.fingerprintStream(streamDocs(s, dir)),
      gateDir("fingerprint"))()
      .orderBy("doc_id")

  /** The streaming curation pipeline — [[graft.operators.Pipeline]]'s
    * ingest-time twin, composed as ONE streaming query: content dedup
    * (`dropDuplicatesWithinWatermark` on the full md5), the
    * fixed-weight quality admission, and broadcast-set
    * decontamination, in that order (the stateful stage first, then
    * the stateless filters ride the same micro-batch plan). WHICH
    * physical duplicate survives is arrival-order-dependent, but every
    * column the gate emits is text-derived, so the projection
    * (fp, z, prob) is deterministic per content class; the oracle
    * restates all three stages over the distinct-text classes. Eval
    * docs (doc_id % 20) need no separate exclusion: any eval doc long
    * enough to shingle is contaminated BY ITSELF and drops at the
    * decon stage, as do its duplicates.
    */
  def pipelineDocs(spark: SparkSession, dir: String): DataFrame = {
    val evalHashes = Streaming.evalShingleHashSet(
      graft.Engine.Tables(spark, dir).documents
        .filter(col("doc_id") % 20 === 0))
    StreamGate.runToParquet(spark,
      { s =>
        val docs = streamDocs(s, dir)
          .withColumn("event_ts", timestamp_micros(col("doc_id") + lit(1000000L)))
        Streaming.decontaminateStream(
            Streaming.qualityFilterStream(Streaming.dedupContentStream(docs)),
            evalHashes)
          .select(col("fp"), col("z"), col("prob"))
      },
      gateDir("pipeline"))()
      .orderBy("fp")
  }

  /** Gated streaming IVF upsert — [[graft.operators.Similarity.ivfUpsert]]'s
    * ingest-time twin: newly arriving vectors (the same deterministic
    * delta slice) are assigned into the EXISTING index's cells as they
    * land. The centroids are peeked once batch-side from the base slice
    * ([[graft.operators.Similarity.upsertCentroids]] — exactly the
    * broadcast-literal move the batch path makes) and the per-row
    * assignment is pure scalar expressions, so the streaming plan is
    * the batch plan per micro-batch and the landed table equals the
    * batch gate bit-for-bit — one shared oracle string pins that.
    */
  def upsertVectors(spark: SparkSession, dir: String): DataFrame = {
    val cents = graft.operators.Similarity.upsertCentroids(
      graft.Engine.Tables(spark, dir).embeddings)
    StreamGate.runToParquet(spark,
      { s =>
        val schema = graft.Engine.cachedSchema(s, s"$dir/embeddings.parquet")
        val vecs = s.readStream.schema(schema)
          .parquet(s"$dir/{embeddings.parquet}")
        graft.operators.Similarity.assignToCells(
          vecs.filter(col("vec_id") % 10 === 9), cents)
      },
      gateDir("upsert"))()
      .orderBy("vec_id")
  }

  /** Gated [[Streaming.budgetAdmitStream]]: per-language token-budget
    * admission (flatMapGroupsWithState, append). Arrival order inside
    * the single micro-batch is the operator's own doc_id sort, so
    * admission offsets are a deterministic per-language prefix sum the
    * oracle restates as a window aggregate.
    */
  def admitDocs(spark: SparkSession, dir: String): DataFrame =
    StreamGate.runToParquet(spark,
      s => Streaming.budgetAdmitStream(streamDocs(s, dir), AdmitBudget).toDF(),
      gateDir("admit"))()
      .orderBy("doc_id")

  /** Gated streaming [[graft.operators.QualityModel.weakLabelsOn]]: the
    * weak-supervision labeler is a stateless per-row projection, so the
    * ingest-time spelling runs the IDENTICAL plan per micro-batch —
    * labeling functions evaluated as data lands, the label model's
    * training set maintained incrementally. Shares the batch gate's
    * oracle string: the landed votes must equal the batch scan's.
    */
  def weakLabelDocs(spark: SparkSession, dir: String): DataFrame =
    StreamGate.runToParquet(spark,
      s => graft.operators.QualityModel.weakLabelsOn(streamDocs(s, dir)),
      gateDir("weaklabels"))()
      .orderBy("doc_id")

  /** Gated streaming [[graft.operators.Posttraining.dpoPairsOn]]: the
    * preference-pair selection maintained as an UPDATE-mode streaming
    * aggregation — per-prompt state is three values (max/min (score,id)
    * structs + a count), bounded by prompt-key cardinality like the
    * budget-admission gate's per-language long, and each micro-batch
    * re-emits exactly the groups whose best/worst moved: the incremental
    * preference-mining shape for a reward-model log that lands
    * continuously. The whole fixture arrives in micro-batch 0, so the
    * single emission per group IS the final pair set; shares the batch
    * gate's oracle string, so the streamed pairs must equal the batch
    * spelling's hash-for-hash.
    */
  def dpoEvents(spark: SparkSession, dir: String): DataFrame =
    StreamGate.runToParquet(spark,
      s => graft.operators.Posttraining.dpoPairsOn(
        Streaming.streamEvents(s, dir)),
      gateDir("dpo"), outputMode = "update")()
      .orderBy("prompt_id")

  /** Gated streaming [[graft.operators.Posttraining.bestOfNOn]]: the
    * rejection-sampling selection maintained as an UPDATE-mode streaming
    * aggregation — per-prompt state is one (score,id) struct and two
    * longs, and each micro-batch re-emits exactly the prompts whose best
    * candidate or counters moved: the incremental SFT-set construction
    * for a continuously landing generation log. Same gate discipline as
    * [[dpoEvents]]: the whole fixture arrives in micro-batch 0 (asserted
    * by StreamGate's single-batch check), and the gate shares the batch
    * entry's oracle string so the streamed selection must equal the
    * batch spelling hash-for-hash.
    */
  def bestOfNEvents(spark: SparkSession, dir: String): DataFrame =
    StreamGate.runToParquet(spark,
      s => graft.operators.Posttraining.bestOfNOn(
        Streaming.streamEvents(s, dir)),
      gateDir("beston"), outputMode = "update")()
      .orderBy("prompt_id")

  /** Gated STREAMING read through [[graft.sources.LineTable]]'s
    * MicroBatchStream: the fixture materializes as a 3-file line table,
    * the stream drains it through the idempotent parquet sink
    * (stateless append — every micro-batch covers exact byte ranges of
    * the committed→latest offset delta), and the rollup runs batch-side
    * on the landed rows. One oracle string shared with the batch
    * `line_table_keys` gate: the streaming ingest path must deliver
    * exactly the batch row set — a lost or replayed range cannot
    * hash-match.
    */
  def lineIngest(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("graft-lineingest-")
    LineTable.docLines(spark, dir).repartition(3).write.mode("overwrite").text(tmp)
    LineTable.rollup(StreamGate.runToParquet(spark,
      s => s.readStream.format("graft.sources.LineTable")
        .option("path", tmp).option("maxSplitBytes", 65536).load(),
      gateDir("lineingest"))())
  }

  /** Gated [[Streaming.cdcMergeSink]]: the batch `cdc_apply` gate's %10
    * changeset arrives as a STREAM of change events (update / shifted
    * insert / delete ops derived from the documents fixture), the merge
    * sink maintains the versioned snapshot, and the gate reads the
    * final version. The three op classes are disjoint id sets, so any
    * micro-batch partitioning of the changeset converges to the same
    * snapshot — which is exactly the batch result, and the gate shares
    * the batch entry's oracle string to pin it.
    */
  def cdcDocs(spark: SparkSession, dir: String): DataFrame = {
    val out = gateDir("cdc")
    // the CACHED gate child (same conf) — a fresh newSession() per call
    // rebuilds the whole SessionState, the measured ~0.2-0.5 s cost the
    // shared child exists to avoid (see StreamGate.sessionFor)
    val gateSession = StreamGate.sessionFor(spark)
    val base = graft.Engine.Tables(gateSession, dir).documents
    // the insert-id shift is a 1-row batch aggregate peeked at build
    // time (the streaming twin of the batch gate's broadcast scalar)
    val shift = base.agg(max(col("doc_id")).as("m")).head.getLong(0) + 1L
    // ONE source scan for all three op classes (the 3-branch unionByName
    // spelling instantiated three FileStreamSource instances — three
    // listings + three full scans per micro-batch for row-disjoint
    // slices of the same file). The per-class column edits move into
    // row-local `when`s on the shared scan; the id slices are disjoint,
    // so the emitted row set is identical.
    val changes = streamDocs(gateSession, dir)
      // all three class tests read the PRE-shift id (`m`), so the
      // shifted inserts can never re-enter another class
      .withColumn("m", col("doc_id") % 10)
      .filter(col("m").isin(3L, 7L, 9L))
      .withColumn("text", when(col("m") === 3,
        concat(col("text"), lit(" v2"))).otherwise(col("text")))
      .withColumn("doc_id", when(col("m") === 7,
        col("doc_id") + lit(shift)).otherwise(col("doc_id")))
      .withColumn("op", when(col("m") === 9, lit("delete"))
        .otherwise(lit("upsert")))
      .drop("m")
    val q = Streaming.cdcMergeSink(changes, base, s"$out/state",
      s"$out/_checkpoint", availableNow = true)
    try q.awaitTermination() finally q.stop()
    Streaming.latestSnapshot(spark, s"$out/state")
      .getOrElse(sys.error(s"stream_cdc: no snapshot landed under $out/state"))
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .orderBy(col("doc_id"))
  }
}
