package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the `events` schema — an extension
  * beyond the reference (its only "streams" are UDP heartbeats,
  * `detect_failures/detect_failures.go:160-200`; the data plane is purely
  * batch). SURVEY §7.5 reserves streaming for M6; this is that module.
  *
  * Every transform is source-agnostic: it accepts any DataFrame with the
  * events columns (`ts` as Long nanoseconds, matching the
  * nanosAsLong-read parquet), batch or streaming — the same plan runs
  * under `spark.read` for backfill and `readStream` for live data, which
  * is the Spark-idiomatic way to keep one codebase for both. State is
  * bounded: windowed aggs are purged by watermark; sessions are evicted
  * by event-time timeout — no unbounded per-key state at 100 TB/day.
  */
object Streaming {

  /** Streaming scan of an events directory (new parquet files appear as
    * micro-batches). Schema comes from a batch peek — required by
    * readStream, and pins the nanosAsLong Long `ts`.
    */
  def streamEvents(spark: SparkSession, dir: String): DataFrame = {
    // schema peek through the process-level cache (Engine.cachedSchema):
    // the per-gate batch listing + footer read re-inferred the same
    // immutable fixture schema once per stream gate per bench pass
    val schema = graft.Engine.cachedSchema(spark, s"$dir/events.parquet")
    // The {} glob makes the path glob-resolved, so the source accepts a
    // single-FILE fixture too (a literal path must be a directory —
    // FileStreamSource derives basePath from it). The ts canonicalizer is
    // the same one the batch path uses (Engine.canonicalizeEventTs) — both
    // fixture generations (Long ns / timestamp[us]) surface as Long ns, so
    // every downstream `ts div 1000` keeps its exact-integer semantics.
    graft.Engine.canonicalizeEventTs(
      spark.readStream.schema(schema).parquet(s"$dir/{events.parquet}"))
  }

  /** Hourly tumbling-window counts per event type, 1-hour watermark:
    * late events beyond the watermark are dropped, finalized windows are
    * emitted exactly once in append mode, and window state is purged —
    * the streaming twin of the batch `q14_events_hourly` query.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_ts", "1 hour")
      .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("total_value"))

  /** The event-type domain the mix-drift monitor tracks (the fixture's
    * full domain; an unseen type contributes to window totals but gets
    * no share row — extend the list to track it).
    */
  val MixEventTypes: Seq[String] =
    Seq("click", "error", "purchase", "signup", "view")

  /** Drift alarm threshold in micro-share units (50 000 µ = 5 points). */
  val MixDriftThresholdMicro = 50000L

  /** Reference event-type mix from a BATCH corpus snapshot, in exact
    * integer micro-shares: the "yesterday's corpus" baseline the live
    * monitor compares against. One aggregate; the collect is
    * |event-type domain| rows — DOMAIN-bounded, and the bound is loud:
    * the pull is `limit(maxTypes + 1)` with a counted `require`
    * (the btScores idiom), so a runaway type domain (an upstream join
    * leaking high-cardinality keys into `event_type`) fails with the
    * dial named instead of OOMing the driver mid-collect.
    */
  def eventTypeSharesMicro(events: DataFrame,
      maxTypes: Int = 1024): Map[String, Long] = {
    require(maxTypes >= 1, s"maxTypes must be >= 1, got $maxTypes")
    val rows = events.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .limit(maxTypes + 1)
      .collect()
    require(rows.length <= maxTypes,
      s"eventTypeSharesMicro: more than $maxTypes distinct event types - " +
        "a mix baseline over an unbounded type domain is a driver pull " +
        "waiting to OOM; pre-map event_type to a bounded domain or raise " +
        "maxTypes deliberately")
    // total = Σ per-type counts (every event has exactly one type group,
    // nulls included) — summed from the rows already collected, so the
    // baseline is ONE aggregation job instead of a count() scan plus it.
    // Valid exactly because the bound check above passed: an over-bound
    // domain would have truncated rows (and already failed loudly).
    val total = rows.map(_.getLong(1)).sum
    require(total > 0,
      "eventTypeSharesMicro: empty reference snapshot — a mix baseline " +
        "needs at least one event (check the snapshot path/filter)")
    rows
      // NULL event_type is a mix slice like any other — keyed under the
      // sentinel "(null)" rather than silently dropped or NPE'd
      .map(r => (if (r.isNullAt(0)) "(null)" else r.getString(0)) ->
        r.getLong(1) * 1000000L / total)
      .toMap
  }

  /** Streaming source-mix drift monitor: per finalized event-time hour,
    * each event type's share of the window vs the broadcast batch
    * reference mix, with a drift flag past
    * [[MixDriftThresholdMicro]] — the live ingest-composition alarm
    * every curation pipeline runs against its historical mix (a crawler
    * gone wrong shows up as a share swing long before any quality gate
    * trips). ONE stateful aggregate per window (per-type counts as
    * conditional sums in the same agg — no chained stateful operators,
    * which append mode would reject); shares, reference lookup and the
    * flag are stateless row arithmetic after it, in exact integer
    * micro-units. Emits every (window, tracked-type) row — zero-count
    * types included, a 0-share row IS maximal drift — only for windows
    * the watermark has finalized (append semantics, bounded state).
    */
  def mixDriftStream(events: DataFrame, refSharesMicro: Map[String, Long],
      thresholdMicro: Long = MixDriftThresholdMicro): DataFrame = {
    val counts = MixEventTypes.map(t =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"__n_$t"))
    val refLookup = map(
      MixEventTypes.flatMap(t =>
        Seq(lit(t), lit(refSharesMicro.getOrElse(t, 0L)))): _*)
    events
      .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_ts", "1 hour")
      .groupBy(window(col("event_ts"), "1 hour"))
      .agg(count(lit(1)).as("n_total"), counts: _*)
      .select(unix_micros(col("window.start")).as("hour_us"),
        col("n_total"),
        explode(array(MixEventTypes.map(t =>
          struct(lit(t).as("event_type"), col(s"__n_$t").as("n"))): _*))
          .as("e"))
      .select(col("hour_us"), col("e.event_type").as("event_type"),
        col("e.n").as("n"), col("n_total"),
        expr("e.n * 1000000 div n_total").as("share_micro"),
        element_at(refLookup, col("e.event_type")).as("ref_micro"))
      .withColumn("drift",
        (abs(col("share_micro") - col("ref_micro")) > thresholdMicro)
          .cast("int"))
  }

  /** Watermarked stream-stream join: each purchase joins the same user's
    * clicks from the preceding hour. Both sides carry watermarks and the
    * join condition bounds event-time distance, so Spark can expire
    * buffered state on both sides — the only way a stream-stream join
    * stays bounded-memory on infinite inputs. Works identically on batch
    * frames (the condition is an ordinary interval predicate there).
    */
  def purchasesWithRecentClicks(events: DataFrame,
      window: String = "1 hour"): DataFrame = {
    val base = events.withColumn("event_ts",
      timestamp_micros(expr("ts div 1000")))
    val clicks = base.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_ts").as("click_ts"))
      .withWatermark("click_ts", window)
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("event_ts").as("purchase_ts"))
      .withWatermark("purchase_ts", window)
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $window"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"), col("click_ts"))
  }

  /** Content-based streaming dedup: drop any document whose text
    * fingerprint was already seen, even when the duplicates carry
    * DIFFERENT timestamps — the crawl-ingest case (`dropDuplicates`
    * would need the event-time column in its key for state expiry, which
    * silently stops deduping re-crawled copies). `dropDuplicatesWithinWatermark`
    * keys state on the fingerprint alone and still expires entries once
    * the watermark passes them: duplicates separated by less than the
    * delay are guaranteed dropped, state stays bounded, and re-crawls
    * beyond the horizon re-admit (the batch [[graft.operators.Dedup]]
    * pass catches those — ingest dedup is a cheap prefilter, not the
    * source of truth).
    *
    * The state key is the FULL 128-bit md5 (the repo's text-identity
    * standard, same as the batch exact dedup): a truncated 60-bit key
    * would face birthday pressure at crawl volumes, and a collision here
    * PERMANENTLY drops a unique document — the one error the downstream
    * batch pass can never recover, because the doc never lands. 16
    * bytes per in-horizon doc is the entire cost.
    */
  def dedupContentStream(docs: DataFrame, tsCol: String = "event_ts",
      watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", md5(col("text")))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")

  /** Running top-k leaderboard (complete output mode): the per-key counts
    * are incrementally maintained streaming state; the sort + limit
    * re-ranks the (small, key-cardinality-bounded) aggregate on each
    * micro-batch emit. The streaming twin of [[graft.operators
    * .HeavyHitters]]'s exact pass — for unbounded key spaces feed it the
    * sketch's candidate keys first; for bounded ones (event types, top
    * users) this is the whole operator.
    */
  def topKLeaderboard(events: DataFrame, keyCol: String = "user_id",
      k: Int = 10): DataFrame =
    events
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("n_events").desc, col(keyCol))
      .limit(k)

  /** Stream-static dimension enrichment: join each micro-batch of the
    * event stream against a STATIC dimension table (here: per-user
    * profile aggregated from the batch events table — stand-in for any
    * slowly-changing dim). Structured Streaming re-plans the static side
    * per micro-batch, so a small dim broadcasts (no state store, no
    * watermark) and a refreshed dim snapshot is picked up on restart —
    * the canonical enrichment shape before sessionization/funnel state.
    * Left join keeps events whose user has no profile (tagged
    * `is_known=false`) rather than dropping them.
    */
  def enrichWithDim(events: DataFrame, userDim: DataFrame): DataFrame =
    events
      .join(broadcast(userDim), Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("home_type").isNotNull.as("is_known"),
        coalesce(col("home_type"), lit("unknown")).as("home_type"))

  /** The static side for [[enrichWithDim]]: each user's modal event type
    * from the batch table (deterministic tie-break on type name).
    * Persisted — Structured Streaming RE-EXECUTES the static side every
    * micro-batch, so an unmaterialized two-shuffle aggregate would pay
    * full-history cost per batch; with the cache the scan+aggregation
    * runs once and later batches broadcast from memory. (In production
    * the dim is a table refreshed out-of-band; re-reading a materialized
    * snapshot has the same property.)
    */
  def userDim(spark: SparkSession, dir: String): DataFrame = {
    val counts = graft.Engine.Tables(spark, dir).events
      .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("n"))
    counts
      .groupBy(col("user_id"))
      .agg(max_by(col("event_type"), struct(col("n"), col("event_type"))).as("home_type"))
      .persist()
  }

  /** Stateless fingerprint enrichment of a document stream: the portable
    * md5-60 digest plus the winnowing fingerprint count, both computed by
    * the same codegen expressions the batch operators use — scalar
    * expressions need no state, so the streaming plan is the batch plan
    * per micro-batch (one codebase, both modes; SURVEY §7.5).
    */
  def fingerprintStream(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      graft.operators.TextAnalysis.md5_60(col("text")).as("fp"),
      size(graft.functions.WinnowFps.winnowFps(col("text"), 5, 4)).as("n_winnow_fps"))

  /** Streaming quality-filter admission: score each incoming doc with
    * the SAME fixed-weight logistic model the batch gate runs
    * ([[graft.operators.QualityModel.logitScore]]) and keep only docs
    * the model accepts — the ingest-time quality cut every crawl
    * pipeline applies before anything touches disk. The ORIGINAL columns
    * (text, metadata) ride through with the scores appended
    * ([[graft.operators.QualityModel.logitScoreWide]]): an admission
    * stream that dropped the text could never actually persist the
    * admitted corpus, and a stream can't re-join the source without
    * watermarked stream-stream machinery. Stateless scalar expressions
    * (the whole model is one scan-fused set of withColumns), so the
    * streaming plan IS the batch plan per micro-batch; batch parity is
    * asserted in StreamingSpec, not just implied.
    */
  def qualityFilterStream(docs: DataFrame,
      weights: Array[Double] = graft.operators.QualityModel.GateWeights): DataFrame =
    graft.operators.QualityModel.logitScoreWide(docs, weights)
      .filter(col("keep") === 1)

  /** Streaming decontamination: drop from an incoming document stream
    * every doc sharing a word n-gram with a held-out eval set — the
    * ingest-time counterpart of the batch `Dedup.decontaminate`, so
    * leaks never land in the corpus at all.
    *
    * Structured Streaming supports stream-static inner/left-outer/semi
    * joins but NOT the anti join this needs (and a per-doc "no shingle
    * hit" aggregate would drag in a state store), so the production
    * shape is a broadcast SET filter: the eval suite's shingle hashes —
    * bounded by construction, eval sets don't grow with the corpus — are
    * collected once at stream setup ([[evalShingleHashSet]]), broadcast,
    * and each doc is checked row-locally. Stateless and watermark-free;
    * the probe is the native [[graft.functions.NgramAnyIn]] expression —
    * the same seed-42 XXH64 the `xxhash64` SQL builtin uses, evaluated
    * inside whole-stage codegen with a primitive binary search per
    * n-gram, so ingest pays scan speed (no per-row Row boxing, no boxed
    * set lookups). Null text can't shingle → never contaminated → kept,
    * matching the batch operator.
    */
  def decontaminateStream(docs: DataFrame, evalHashes: Set[Long],
      n: Int = 5): DataFrame =
    docs.filter(coalesce(
      !graft.functions.NgramAnyIn.ngramAnyIn(col("text"), n, evalHashes.toArray),
      lit(true)))

  /** One-time static-side builder for [[decontaminateStream]]: the
    * distinct xxhash64 n-gram hashes of the (bounded) eval corpus,
    * collected to the driver for broadcast. Shingles come from the SAME
    * [[graft.operators.Dedup.rawShingles]] expression the batch
    * decontamination uses — one tokenization definition for both modes.
    *
    * The "bounded eval corpus" precondition is ENFORCED, not assumed:
    * the distinct-hash cardinality is counted before the collect and an
    * over-bound suite fails loudly (same BoundedGlobal discipline as
    * every other driver-side global in this library). `maxHashes`
    * defaults to 10M — an ~80 MB broadcast array, comfortably inside
    * task-broadcast budgets; a genuinely larger suite should use the
    * probabilistic path ([[graft.operators.Dedup.decontaminateBloom]] /
    * the `decon_bloom` gate), which sizes a Bloom filter instead of an
    * exact set and never collects hashes to the driver.
    */
  def evalShingleHashSet(evalDocs: DataFrame, n: Int = 5,
      maxHashes: Int = 10000000): Set[Long] = {
    require(maxHashes > 0, s"maxHashes must be positive, got $maxHashes")
    // limit(max+1) keeps this ONE job with driver memory bounded at
    // max+1 longs either way — a separate count() pass would double the
    // shingle scan just to ask permission
    val taken = graft.operators.Dedup.rawShingleHashes(evalDocs, n)
      .select(col("h"))
      .distinct()
      .limit(maxHashes + 1)
      .collect()
    if (taken.length > maxHashes) throw new IllegalStateException(
      s"evalShingleHashSet: eval corpus has more than $maxHashes distinct " +
        "shingle hashes — too large for an exact broadcast set; use " +
        "Dedup.decontaminateBloom (the decon_bloom path), which streams " +
        "the hashes into a sized Bloom filter instead")
    taken.map(_.getLong(0)).toSet
  }

  // ------------------------------------------------------- funnel state

  /** Input row for [[funnelStream]] (µs event time). */
  case class FunnelEvent(user_id: Long, us: Long, event_type: String)

  /** Per-user funnel frontier: first view, first click after it, first
    * purchase after that — -1 while unreached (never regresses).
    */
  case class FunnelState(v: Long, c: Long, p: Long)

  case class FunnelRow(user_id: Long, stage: Int, v_us: Long, c_us: Long,
      p_us: Long)

  def funnelInput(events: DataFrame): Dataset[FunnelEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), expr("ts div 1000").as("us"),
      col("event_type")).as[FunnelEvent]
  }

  /** Streaming ordered funnel — the incremental twin of
    * [[graft.operators.Analytics.funnelStages]]: per-user state machine
    * over `mapGroupsWithState`, re-emitting the user's stage whenever a
    * micro-batch touches them (Update output mode). Events are sorted by
    * (event time, type) inside each batch, so on a single batch — or
    * when each user's funnel events arrive in event-time order across
    * batches — the result equals the batch operator exactly (the spec
    * asserts it); an event arriving AFTER a later-stage event was
    * already accepted refines nothing, which is the monotone-frontier
    * semantics an online funnel wants. State is three longs per user —
    * bounded by the user population, not the event volume.
    */
  def funnelStream(events: Dataset[FunnelEvent]): Dataset[FunnelRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelRow](GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          // ties sort click < purchase < view, matching the batch
          // operator's strict us > prev comparisons
          for (e <- it.toVector.sortBy(ev => (ev.us, ev.event_type))) {
            if (s.v == -1L && e.event_type == "view")
              s = s.copy(v = e.us)
            else if (s.v != -1L && s.c == -1L && e.event_type == "click" && e.us > s.v)
              s = s.copy(c = e.us)
            else if (s.c != -1L && s.p == -1L && e.event_type == "purchase" && e.us > s.c)
              s = s.copy(p = e.us)
          }
          state.update(s)
          val stage =
            if (s.p != -1L) 3 else if (s.c != -1L) 2 else if (s.v != -1L) 1 else 0
          FunnelRow(uid, stage, s.v, s.c, s.p)
      }
  }

  // ------------------------------------------------------- sessionization

  /** Input row for [[sessionize]]: `event_ts` carries the watermark. */
  case class Event(user_id: Long, event_ts: java.sql.Timestamp, value: Double)

  /** Open-session accumulator (the per-key state). */
  case class SessionAcc(startMs: Long, lastMs: Long, n: Int, sum: Double)

  /** A closed session. */
  case class Session(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Int, total_value: Double)

  /** Prepare an events DataFrame (Long-ns `ts`) for [[sessionize]]:
    * derive the timestamp column and declare the watermark on it.
    */
  def sessionInput(events: DataFrame, watermarkDelay: String = "1 hour"): Dataset[Event] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_ts", watermarkDelay)
      .select(col("user_id"), col("event_ts"), col("value"))
      .as[Event]
  }

  /** Gap-based sessionization with `flatMapGroupsWithState`
    * (SURVEY §2.1-E9's per-key-full-group contract, upgraded to
    * incremental state): a session closes when the next event of the key
    * arrives more than `gapMinutes` after the last, or — in streaming —
    * when the event-time watermark passes last + gap (timeout eviction,
    * so idle keys hold no state forever). Works on batch Datasets too,
    * where only gap-closed sessions emit (timeouts never fire in batch by
    * Spark's contract).
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60_000L

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(uid, s.startMs, s.lastMs, s.n, s.sum))
          } else {
            // a micro-batch's group fits in memory (bounded by batch
            // size); order within the batch is not guaranteed → sort
            val sorted = it.toVector.sortBy(_.event_ts.getTime)
            val out = Vector.newBuilder[Session]
            var acc = state.getOption
            for (e <- sorted) {
              val t = e.event_ts.getTime
              acc match {
                case Some(s) if t - s.lastMs > gapMs =>
                  out += Session(uid, s.startMs, s.lastMs, s.n, s.sum)
                  acc = Some(SessionAcc(t, t, 1, e.value))
                case Some(s) =>
                  // a within-watermark late event (out of order ACROSS
                  // micro-batches) must not regress the frontier, and must
                  // extend the start backwards if it precedes it — matching
                  // what a single batch over the same data would produce
                  acc = Some(SessionAcc(math.min(s.startMs, t),
                    math.max(s.lastMs, t), s.n + 1, s.sum + e.value))
                case None =>
                  acc = Some(SessionAcc(t, t, 1, e.value))
              }
            }
            acc.foreach { s =>
              state.update(s)
              // evict (and emit) once the watermark passes the gap. In
              // batch mode the watermark node is elided and the getter
              // throws — and timeouts never fire there anyway.
              if (scala.util.Try(state.getCurrentWatermarkMs()).isSuccess)
                state.setTimeoutTimestamp(math.max(
                  s.lastMs + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  // ----------------------------------------------------------- sinks

  /** The per-batch write [[idempotentParquetSink]] runs: overwrite into a
    * batch-addressed directory. Public so the idempotence property is
    * directly testable (write the same id twice → same bytes, no dupes).
    */
  def writeBatchIdempotent(batch: DataFrame, id: Long, path: String): Unit =
    batch.write.mode("overwrite").parquet(s"$path/batch_id=$id")

  // ------------------------------------------- near-dup quarantine

  /** One (doc, band) probe row for [[simhashQuarantineStream]]. */
  case class BandProbe(doc_id: Long, fp: Long, band: Int, bh: Long)

  /** Per-bucket registered fingerprints, newest first, FIFO-capped. */
  case class BucketState(fps: List[(Long, Long)])

  /** A near-dup detection: `doc_id` matched `matched_doc` (an earlier
    * arrival) within `hamming` bits on SimHash, found via `band`.
    */
  case class QuarantineHit(doc_id: Long, band: Int, matched_doc: Long,
      hamming: Int)

  /** Streaming NEAR-dup quarantine — the ingest-time counterpart of the
    * batch [[graft.operators.Dedup.simhashPairs]]: each incoming doc's
    * 60-bit SimHash (the same codegen expression as batch, stateless per
    * row) is cut into the same four 15-bit bands; state keyed by
    * (band, bucket) holds the fingerprints previously registered there,
    * and a doc sharing a bucket with an earlier fingerprint within
    * `maxHamming` bits emits a [[QuarantineHit]]. Pigeonhole makes band
    * candidate generation EXACT for hamming ≤ 3: any such pair agrees
    * verbatim on ≥ 1 band, so the flagged set equals "docs with an
    * earlier near-dup" — StreamingSpec pins set equality against the
    * batch operator's pairs.
    *
    * Every doc registers its fingerprint whether or not it was flagged —
    * a doc quarantined as a near-dup of X still catches future near-dups
    * of ITSELF, which is connected-component (cluster) semantics, the
    * same transitive closure [[graft.operators.Dedup.dedupClusters]]
    * materializes in batch. The output is the quarantine LOG (hits
    * only); survivors are everything that never appears in it — the
    * subtraction happens wherever the corpus lands (one anti-join), so
    * this stays a single stateful operator in append mode with no
    * cross-key coordination.
    *
    * State is bounded by construction: ≤ 4 bands × 2¹⁵ buckets ×
    * `bucketCap` (fp, doc_id) pairs, FIFO-evicted per bucket — ~134 MB
    * at the 64 default even if every bucket fills. A crawl that must
    * forget old epochs entirely would add event-time TTL (the
    * [[sessionize]] timeout pattern); the FIFO cap already prevents
    * unbounded growth on hot buckets.
    *
    * Within a micro-batch the group iterator is sorted by doc_id, so
    * "earlier" means: earlier micro-batch, then smaller doc_id — feeding
    * ids in arrival order makes stream and batch agree exactly.
    */
  def simhashQuarantineStream(docs: DataFrame, maxHamming: Int = 3,
      bucketCap: Int = 64): Dataset[QuarantineHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val banded = docs
      // same surviving-token filter as the batch simhash
      .filter(exists(graft.operators.TextAnalysis.whitespaceTokens(col("text")), t => length(t) > 0))
      .select(col("doc_id"),
        graft.functions.SimHash60.simhash60(col("text")).as("fp"))
      .select(col("doc_id"), col("fp"),
        explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bh", expr("(fp >> (band * 15)) & 32767"))
      .as[BandProbe]
    banded
      .groupByKey(p => (p.band, p.bh))
      .flatMapGroupsWithState[BucketState, QuarantineHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), it: Iterator[BandProbe], state: GroupState[BucketState]) =>
          val sorted = it.toVector.sortBy(_.doc_id)
          var fps = state.getOption.map(_.fps).getOrElse(Nil)
          val out = Vector.newBuilder[QuarantineHit]
          for (p <- sorted) {
            fps.find { case (fp, _) =>
              java.lang.Long.bitCount(fp ^ p.fp) <= maxHamming
            }.foreach { case (fp, doc) =>
              out += QuarantineHit(p.doc_id, p.band, doc,
                java.lang.Long.bitCount(fp ^ p.fp))
            }
            // take() COPIES the list — with the cap disabled (the gate's
            // exact mode) that would be O(n²) on hot buckets; prepend is
            // all that's needed when no eviction can occur
            val grown = (p.fp, p.doc_id) :: fps
            fps = if (bucketCap == Int.MaxValue) grown else grown.take(bucketCap)
          }
          state.update(BucketState(fps))
          out.result().iterator
      }
  }

  /** Streaming CDC MERGE sink: maintains a parquet SNAPSHOT of a table
    * under a stream of change events (`op` = 'upsert' | 'delete' with
    * the row payload). Each micro-batch applies
    * [[graft.operators.Dedup.cdcApply]] against the previous snapshot
    * and lands the result in a version-addressed directory
    * `v=<batch_id>` with mode=overwrite — the [[idempotentParquetSink]]
    * discipline applied to MERGE: a replayed batch recomputes from the
    * same predecessor version and overwrites its own output, so the
    * effect is exactly-once. Within one batch a doc_id appearing as
    * both delete and upsert resolves upsert-wins (cdcApply anti-joins
    * the touched ids out and THEN unions the upserts in); across
    * batches the later version wins by construction.
    *
    * 100 TB shape: the per-batch merge is cdcApply's broadcast
    * anti-join — only the delta's ids cross the wire, the base is never
    * shuffled — but each version REWRITES the full snapshot, which is
    * the plain-parquet price of exactly-once MERGE. A production
    * deployment keeps these per-batch semantics and points the write at
    * a lakehouse table format whose MERGE rewrites only touched files;
    * the versioned-snapshot spelling here is the format-free equivalent
    * with the same replay story.
    */
  def cdcMergeSink(changes: DataFrame, base: DataFrame, stateDir: String,
      checkpoint: String, availableNow: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = changes.sparkSession
    val w = changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val prev = latestSnapshot(spark, stateDir, below = Some(id))
          .getOrElse(base)
        val upserts = batch.filter(col("op") =!= "delete").drop("op")
        val deletes = batch.filter(col("op") === "delete")
          .select(col("doc_id"))
        graft.operators.Dedup.cdcApply(prev, upserts, deletes)
          .write.mode("overwrite").parquet(s"$stateDir/v=$id")
      }
    (if (availableNow)
       w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else w)
      .start()
  }

  /** The snapshot at the highest landed version strictly below `below`
    * (replay reads its predecessor, not its own half-written output),
    * or the highest overall when `below` is None (the read side).
    */
  def latestSnapshot(spark: SparkSession, stateDir: String,
      below: Option[Long] = None): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(stateDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val vs = fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("v="))
        .map(_.stripPrefix("v=").toLong)
        .filter(v => below.forall(v < _))
      if (vs.isEmpty) None
      else Some(spark.read.parquet(s"$stateDir/v=${vs.max}"))
    }
  }

  /** Idempotent batch-addressed parquet sink: each micro-batch lands in
    * its own `batch_id=<id>` directory with mode=overwrite, so a batch
    * REPLAYED after a failure (Structured Streaming's contract is
    * at-least-once delivery to foreachBatch) overwrites its own previous
    * output instead of appending duplicates — exactly-once EFFECT from
    * deterministic batch ids + idempotent writes, the standard
    * production recipe. The guarantee is tied to the path↔checkpoint
    * pairing: a FRESH checkpoint restarts batch ids at 0, which would
    * overwrite low-numbered dirs while stale high-numbered ones survive
    * — so startup refuses a new checkpoint over a non-empty output
    * (wipe the output when resetting the checkpoint). Readers use
    * partition discovery over the layout (`spark.read.parquet(path)`);
    * if micro-batches are small, periodically rewrite old leaf dirs
    * with a batch job (they are immutable once their id is committed).
    */
  def idempotentParquetSink(df: DataFrame, path: String,
      checkpoint: String, outputMode: String = "append",
      availableNow: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val outPath = new org.apache.hadoop.fs.Path(path)
    val ckptPath = new org.apache.hadoop.fs.Path(checkpoint)
    val outFs = outPath.getFileSystem(conf)
    val ckptFs = ckptPath.getFileSystem(conf)
    val freshCheckpoint = !ckptFs.exists(ckptPath) || ckptFs.listStatus(ckptPath).isEmpty
    val outputPopulated = outFs.exists(outPath) && outFs.listStatus(outPath).nonEmpty
    require(!(freshCheckpoint && outputPopulated),
      s"fresh checkpoint $checkpoint over non-empty output $path would " +
        "restart batch ids at 0 and corrupt the directory; wipe the output " +
        "when resetting the checkpoint")
    val w = df.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        writeBatchIdempotent(batch.toDF(), id, path)
      }
    // AvailableNow: drain everything currently in the source, run any
    // follow-up batches stateful operators need (watermark-finalized
    // emission), then terminate — the right trigger for a finite gated
    // run (fewer idle micro-batch cycles than the default trigger +
    // processAllAvailable polling). The default trigger stays for
    // callers that stage multi-batch arrival (MemoryStream feeds).
    (if (availableNow)
       w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else w)
      .start()
  }

  // ------------------------------------------ token-budget admission

  case class AdmitDoc(doc_id: Long, lang: String, tok: Long)
  case class AdmitState(spent: Long)
  case class Admitted(doc_id: Long, lang: String, tok: Long, off: Long)

  /** Streaming token-budget admission — the ingest-time twin of
    * [[graft.operators.Packing.mixBudget]]: per language, admit
    * documents until the budget is spent, then drop the rest of the
    * stream. Batch picks WHICH docs via the deterministic md5 order;
    * ingest has no second chance at ordering, so here admission order
    * is arrival order (micro-batch, then doc_id within a batch — same
    * tie rule as [[simhashQuarantineStream]]), and the admission test is
    * the identical open-at-offset rule: a doc is admitted when the
    * tokens already spent on its language are < budget. Emitted `off` is
    * that spent-count — so the output stream IS the per-lang token
    * layout, and replaying it reproduces the same mix.
    *
    * State per language is ONE long (tokens spent) — the smallest
    * possible streaming state; no timeout because a quota outlives any
    * watermark. Languages are independent keys, so a hot language never
    * blocks others, and the stateful shuffle is keyed on lang — the
    * only wide move in the plan.
    */
  def budgetAdmitStream(docs: DataFrame, budget: Long): Dataset[Admitted] = {
    require(budget > 0, s"token budget must be positive, got $budget")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"), col("lang"),
        graft.operators.TextAnalysis.tokenCount(col("text")).as("tok"))
      .as[AdmitDoc]
      .groupByKey(_.lang)
      .flatMapGroupsWithState[AdmitState, Admitted](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (lang: String, it: Iterator[AdmitDoc], state: GroupState[AdmitState]) =>
          var spent = state.getOption.map(_.spent).getOrElse(0L)
          val out = Vector.newBuilder[Admitted]
          for (d <- it.toVector.sortBy(_.doc_id)) {
            if (spent < budget) {
              out += Admitted(d.doc_id, lang, d.tok, spent)
              spent += d.tok
            }
          }
          state.update(AdmitState(spent))
          out.result().iterator
      }
  }
}
