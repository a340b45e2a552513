package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the 100 TB properties the scale design
  * depends on, asserted against the optimized/executed plans so a future
  * refactor can't silently lose them (SURVEY §4.1: everything here is
  * what the reference engine lacks and Catalyst provides).
  */
class PlanSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"
  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q6: predicates pushed into the parquet scan; columns pruned") {
    val plan = planOf("q6_forecast_revenue")
    assert(plan.contains("PushedFilters: [IsNotNull(l_discount)"), plan.take(2000))
    assert(plan.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double>"),
      "scan must read exactly the 3 referenced columns")
  }

  test("q2: dimension joins broadcast, never shuffle the fact side") {
    val plan = planOf("q2_market_share")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), "kilobyte dims must not SMJ")
  }

  test("wordcount: partial aggregation runs before the shuffle") {
    val plan = planOf("wc_wordcount")
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      s"map-side combine missing:\n${plan.take(2000)}")
  }

  test("q4: EXISTS plans as a semi join (no row multiplication)") {
    val plan = planOf("q4_order_priority")
    assert(plan.contains("LeftSemi"), plan.take(2000))
  }

  test("partitionBy layout prunes partitions at the scan") {
    import org.apache.spark.sql.functions.col
    val tmp = Scratch.dir("graft-part")
    Engine.Tables(spark, dir).events
      .write.partitionBy("event_type").mode("overwrite").parquet(s"$tmp/events_part")
    val df = spark.read.parquet(s"$tmp/events_part")
      .filter(col("event_type") === "click")
      .select(col("event_id"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"partition filter missing:\n${plan.take(1500)}")
    // the pruned scan must not read the data column for the filter
    assert(plan.contains("ReadSchema: struct<event_id:bigint>"), plan.take(1500))
  }

  test("q1: whole-stage codegen covers the aggregation pipeline") {
    // AQE only collapses codegen stages at execution → materialize first
    val df = SparkEntry.queries("q1_pricing_summary")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" is the WholeStageCodegen stage marker in the tree string
    assert(plan.contains("*("), plan.take(2000))
  }

  test("winnow: completely shuffle-free up to the final presentation sort") {
    // distinctness is established inside winnow_fps, so the operator body
    // must contain NO exchange; the only allowed one is the global sort
    // the gated query adds for deterministic output.
    val plan = operators.TextAnalysis.winnow(
      Engine.Tables(spark, dir).documents).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"winnow grew a shuffle:\n${plan.take(2000)}")
    assert(plan.toLowerCase.contains("winnow"), plan.take(500))
  }

  test("sessionization: both windows and the session agg share ONE user_id exchange") {
    val plan = planOf("q22_sessions")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    // lag-window, sum-window and the final groupBy all partition by
    // user_id; Spark must reuse one hash partitioning (plus the rangesort
    // for presentation) — more would mean the partitioning is not reused.
    // <= rather than == so planner-cosmetic changes (AQE reuse markers)
    // don't fail the build without a real regression.
    assert(exchanges <= 1, s"expected <=1 hash exchange, got $exchanges:\n${plan.take(3000)}")
  }

  test("pack_shards: AQE reuses the corpus exchange — both prefix-sum branches, one scan") {
    val df = SparkEntry.queries("pack_shards")(spark, dir)
    df.collect() // AQE reuse decisions only exist in the final plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"expected shuffle reuse in final adaptive plan:\n${plan.take(3000)}")
  }

  test("q34 lateral: decorrelated to a windowed join with group-limit pushdown") {
    val plan = planOf("q34_lateral_topk")
    // the correlated LIMIT subquery must NOT survive as a per-row
    // subquery: Catalyst rewrites it to a window rank + join, and the
    // LIMIT 2 becomes a WindowGroupLimit (rank computed only until k).
    // (A logical LateralJoin node can never appear in a physical plan
    // string, so the meaningful assertions are the window ones.)
    assert(plan.contains("Window"),
      s"expected decorrelated window plan:\n${plan.take(2000)}")
    assert(plan.contains("WindowGroupLimit"),
      s"expected group-limit pushdown for the correlated LIMIT:\n${plan.take(2000)}")
  }

  test("vocab_coverage: the token-counts shuffle is shared with the total subquery") {
    val df = SparkEntry.queries("vocab_coverage")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val reused = plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage") ||
      plan.contains("ReusedSubquery")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(reused || scans <= 1,
      s"expected corpus-scan reuse between top-k branch and total subquery " +
        s"(scans=$scans):\n${plan.take(3000)}")
  }

  test("funnel: one events scan, one user_id exchange for all three stage windows") {
    val plan = planOf("funnel_stages")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans === 1, s"expected a single events scan, got $scans:\n${plan.take(3000)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, s"expected <=1 hash exchange, got $exchanges:\n${plan.take(3000)}")
  }

  test("q26: correlated scalar subquery decorrelates to an aggregate join") {
    val plan = planOf("q26_correlated")
    // Catalyst must rewrite the per-row subquery into a per-part
    // aggregate joined back — a surviving subquery would re-scan lineitem
    // per outer row
    assert(!plan.contains("Subquery"), s"subquery survived:\n${plan.take(2000)}")
    assert(plan.contains("HashAggregate"), plan.take(2000))
    assert(plan.contains("Join"), plan.take(2000))
  }

  test("salted agg: two aggregation levels, both with map-side partials") {
    val plan = planOf("skew_salted_agg")
    val partials = "partial".r.findAllIn(plan.toLowerCase).length
    assert(partials >= 2, s"expected partial aggs at both levels:\n${plan.take(2000)}")
  }

  test("scan-fused round-7 transforms: no shuffle beyond the output sort") {
    // fim_transform, group_split and quality_logit are scalar-projection
    // plans; any hash exchange appearing here means a join/agg crept in
    Seq("fim_transform", "group_split", "quality_logit", "t5_spans").foreach { q =>
      val plan = planOf(q)
      val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(hashEx === 0, s"$q grew a hash exchange:\n${plan.take(2000)}")
      assert(!plan.contains("Join"), s"$q grew a join:\n${plan.take(2000)}")
    }
  }

  test("knn_classify: per-query top-k cut happens before the shuffle") {
    val plan = planOf("knn_classify")
    // the bounded-heap partial must appear on the map side, so the
    // shuffle carries one ≤-k buffer per task/query, never the scored
    // corpus — and the final aggregate completes the pair
    assert(plan.contains("partial_topkstructs"), plan.take(3000))
    assert("topkstructs".r.findAllIn(plan).length >= 2,
      s"expected a partial (pre-shuffle) AND final bounded top-k:\n${plan.take(3000)}")
    // the query batch broadcasts; the corpus side must not SMJ
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("dedup_span_rm: reassembly is an in-row filter after a doc-keyed join") {
    val plan = planOf("dedup_span_rm")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // covered indices collapse to one per-doc array (collect_set), and
    // the cleaned text is rebuilt by the indexed higher-order filter —
    // no token-level shuffle of text
    assert(plan.contains("collect_set"), plan.take(3000))
    assert(plan.contains("array_contains"), plan.take(3000))
  }

  test("dedup_prefix: doc-partitioned windows, h-keyed candidate join, reused prefix exchange") {
    val plan = planOf("dedup_prefix")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // every window is PARTITIONED by doc_id (rank + per-doc size) —
    // never an unpartitioned global sort. Count ALL specs and require
    // every one to carry the doc_id partitioning: a specs >= windows
    // compare could be satisfied by one doc_id Window evaluating two
    // functions while a global-spec Window slips in beside it.
    val docSpecs = "windowspecdefinition\\(doc_id".r.findAllIn(plan).length
    val allSpecs = "windowspecdefinition\\(".r.findAllIn(plan).length
    assert(allSpecs > 0 && docSpecs === allSpecs,
      s"every window spec must partition by doc_id ($docSpecs/$allSpecs):\n${plan.take(3000)}")
    // candidate generation is an equi-join keyed on the shingle hash
    // (at corpus scale both sides hash-partition on h and AQE reuses the
    // canonically-identical prefix exchange; at fixture scale the join
    // broadcasts — either way, never a cartesian)
    assert("Join \\[h#".r.findFirstIn(plan).isDefined, plan.take(3000))
  }

  test("dsir_weights: both LMs from one token aggregate, partial-agg'd") {
    val plan = planOf("dsir_weights")
    // the raw and target counts ride one groupBy (conditional sum), so
    // exactly one counts aggregate with map-side partials must exist
    val partials = "partial".r.findAllIn(plan.toLowerCase).length
    assert(partials >= 2, s"partial aggs missing:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("sent_segment: synthesis + segmentation fused in the scan") {
    val plan = planOf("sent_segment")
    // punctuation synthesis and the sentence explode are scalar/generator
    // expressions — the only exchange allowed is the presentation sort
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx === 0, s"sentence segmentation grew a hash exchange:\n${plan.take(2500)}")
    assert(!plan.contains("Join"), plan.take(2500))
  }

  test("sent_dedup: decision is an aggregate + digest join, not a sentence window") {
    val df = SparkEntry.queries("sent_dedup")(spark, dir)
    df.collect() // AQE reuse decisions only exist in the final plan
    val plan = df.queryExecution.executedPlan.toString
    val finalPlan = plan.split("== Initial Plan ==").head
    // the first-occurrence decision is a min aggregate on the digest
    assert(plan.contains("partial_min") || plan.contains("Partial"),
      s"first-occurrence aggregate missing:\n${plan.take(2500)}")
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    // no window partitioned by the sentence digest anywhere in the plan
    assert(!plan.toLowerCase.contains("window"), plan.take(2500))
    // both digest consumers (the aggregate and the probe join) read ONE
    // shuffle of the segmentation: the second is a reused exchange, and
    // synthesis + segmentation scan the documents once
    assert(finalPlan.contains("ReusedExchange"),
      s"both digest consumers must read one shuffle:\n${finalPlan.take(4000)}")
    val scans = "FileScan parquet".r.findAllIn(finalPlan).length
    assert(scans === 1, s"synthesis re-ran ($scans documents scans):\n${finalPlan.take(4000)}")
  }

  test("split_leak_stats: one prefix screen labels both keyings") {
    val plan = planOf("split_leak_stats")
    // the doc and source keyings are labeled in one pass over the
    // source-joined pairs, so the prefix screen's cogroup runs once
    val cogroups = "CoGroup".r.findAllIn(plan).length
    assert(cogroups === 1, s"expected one prefix-screen cogroup, got $cogroups:\n${plan.take(4000)}")
  }

  test("pq_adc_topk: lookup fused in the scan, no join keyed on the corpus") {
    val plan = planOf("pq_adc_topk")
    // the per-query tables arrive via broadcast nested loop (10 rows);
    // a hash/sort-merge join here would mean the corpus got shuffled on
    // a key, and the ADC sum must be an element_at lookup, not a
    // conditional chain
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      plan.take(3000))
    assert(plan.contains("element_at"), plan.take(3000))
    // bounded top-k aggregate: the exchange carries one ≤-topK heap
    // buffer per (task, query), and nothing sorts the scored corpus
    assert(plan.contains("partial_topkstructs"), plan.take(3000))
    assert(!plan.contains("windowspecdefinition"), plan.take(3000))
  }

  test("pq/i8 probes scan a MATERIALIZED index, argmin is the native kernel") {
    // the two regressions that made ADC 18 s at 10×: (a) CollapseProject
    // folding the encode into the post-join stage (fixed by the
    // checkpoint barrier — probe side must scan an RDD, not re-encode),
    // (b) the least(struct) comparator tree (fixed by pq_argmin)
    for (q <- Seq("pq_adc_topk", "ivf_pq_topk", "ann_i8_topk")) {
      val plan = planOf(q)
      assert(plan.contains("Scan ExistingRDD"),
        s"$q probe side must scan the materialized index:\n${plan.take(2000)}")
      assert(plan.contains("partial_topkstructs"),
        s"$q must cut top-k map-side (bounded heap partial):\n${plan.take(2000)}")
    }
    val encode = SparkEntry.queries("pq_codes")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(encode.contains("pqargmin"),
      s"encode must use the native kernel:\n${encode.take(2000)}")
    assert(!encode.contains("least("),
      s"least(struct) argmin tree crept back:\n${encode.take(2000)}")
  }

  test("pq_rerank funnel: materialized index scan, bounded heaps both stages") {
    val plan = planOf("pq_rerank_topk")
    // stage 1 scans the stored (vec_id, embedding, codes) index, not a
    // re-derived encode (the pq_adc_topk CollapseProject lesson)
    assert(plan.contains("Scan ExistingRDD"),
      s"stage 1 must scan the materialized index:\n${plan.take(2000)}")
    // both stages are q_id-keyed bounded heaps: stage 1's exchange
    // satisfies stage 2's distribution — one hash exchange total, no
    // ranking window, no sort of the scored relation
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1,
      s"expected ONE hash exchange for both funnel stages, got " +
        s"$hashExchanges:\n${plan.take(3000)}")
    assert(plan.contains("partial_topkstructs"), plan.take(2000))
    assert(!plan.contains("windowspecdefinition"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("ann_lsh_mp: posting-list equi-join candidates, never a corpus scan per probe") {
    val plan = planOf("ann_lsh_mp")
    // candidates come from a broadcast equi-join on (band, value) —
    // the probe table is queries×bands×(r+1) rows, broadcast; a
    // cartesian or non-equi join here would score the corpus per probe
    assert(plan.contains("BroadcastHashJoin"),
      s"probe join must be a broadcast equi-join:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // final per-query cut is the bounded heap, not a ranking window
    assert(plan.contains("partial_topkstructs"), plan.take(2000))
    assert(!plan.contains("windowspecdefinition"), plan.take(2000))
  }

  test("matryoshka: full-dim dot behind the shortlist cut; one exchange, no sort") {
    val df = SparkEntry.queries("matryoshka_topk")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // both funnel stages aggregate on q_id: stage 1's exchange satisfies
    // stage 2's distribution, so exactly ONE hash exchange total (plus
    // the presentation sort's range exchange), and the scored relation
    // is never sorted (bounded heaps, not a ranking window)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1,
      s"expected ONE hash exchange for both stages, got $hashExchanges:\n${plan.take(3000)}")
    assert(plan.contains("partial_topkstructs"), plan.take(2000))
    assert(!plan.contains("windowspecdefinition"), plan.take(2000))
  }

  test("ivf_pq_trained stack: one exchange for both funnel stages, index materialized, no window") {
    // the composed serving stack must keep the matryoshka skeleton:
    // ADC-shortlist heap and exact-refine heap both key on q_id, so ONE
    // hash exchange serves both; the (cell, codes, embedding) index is
    // a once-materialized checkpoint (never re-derived per stage); the
    // query batch broadcasts; nothing is ranked by a window. Both
    // trainer arms must compile to this same serving plan — sampling
    // changes what the build-time chains read, not what serves.
    for (gate <- Seq("ivf_pq_trained_topk", "ivf_pq_trained_sampled")) {
      val df = SparkEntry.queries(gate)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(hashExchanges == 1,
        s"$gate: expected ONE hash exchange, got $hashExchanges:\n${plan.take(3000)}")
      assert(plan.contains("Scan ExistingRDD"),
        s"$gate: coded index not materialized:\n${plan.take(2000)}")
      assert(plan.contains("BroadcastExchange"),
        s"$gate: query batch must broadcast:\n${plan.take(2000)}")
      assert(plan.contains("partial_topkstructs"), s"$gate: ${plan.take(2000)}")
      assert(!plan.contains("windowspecdefinition"), s"$gate: ${plan.take(2000)}")
    }
  }

  test("mix_temperature: corpus side broadcast-joins the rates, aggregates partially") {
    val plan = planOf("mix_temperature")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "the 20-row rates table must broadcast, never SMJ")
  }

  test("pagerank: K Pregel iterations over a MATERIALIZED edge list, no cartesian") {
    val plan = planOf("graph_pagerank")
    // the linkEdges synthesis cross-broadcast must NOT appear in the
    // iterated plan — edges are localCheckpoint'd once and scanned as an
    // ExistingRDD per iteration; without that, lineage re-derives the
    // synthesis K times and grows exponentially with a left-join chain
    assert(plan.contains("Scan ExistingRDD"),
      s"edges not materialized:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "edge synthesis leaked into the iterated plan")
    // per iteration: one edges⋈ranks join + one rank-sum agg shuffle +
    // one left join back to nodes — exactly 2K joins, K agg exchanges
    val joins = "Join".r.findAllIn(plan).length
    assert(joins == 2 * operators.Graph.Iterations,
      s"expected ${2 * operators.Graph.Iterations} joins (2 per iteration), got $joins")
    val aggs = "HashAggregate".r.findAllIn(plan).length
    assert(aggs == 2 * operators.Graph.Iterations,
      s"expected partial+final agg per iteration, got $aggs HashAggregates")
  }

  test("zorder: quantize+interleave fused in the scan; one stats agg exchange") {
    val plan = planOf("zorder_layout")
    // the only wide op on the fact path is the per-file stats groupBy;
    // the max-bounds aggregate rides a one-row broadcast. A global sort
    // here would mean the layout needs sampled range boundaries — the
    // design is fixed-width cells precisely to avoid that.
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1,
      s"expected ONE hash exchange (stats agg), got $hashExchanges:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastNestedLoopJoin") && plan.contains("Cross"),
      "one-row bounds must broadcast onto the scan")
    assert(!plan.contains("Window"), "layout must not rank/sort globally")
  }

  test("source_overlap: pair expansion runs on the mask histogram, never on shingles") {
    val plan = planOf("source_overlap")
    // exactly two Generates: the shingle explode (feeding the hash agg)
    // and the pair-grid explode (above BOTH aggregate levels — pairs are
    // expanded from the bounded mask histogram, not from shingle rows)
    val gens = "Generate".r.findAllIn(plan).length
    assert(gens == 2, s"expected shingle + pair-grid Generates, got $gens")
    assert(!plan.contains("Join"), "the matrix needs no join at all")
    // shingle-volume stage combines map-side before its shuffle
    assert(plan.contains("partial_bit_or") || plan.contains("Partial"),
      s"mask agg missing map-side partials:\n${plan.take(2500)}")
  }

  test("quality_calibration: both filters fused into ONE scan, one agg shuffle") {
    val plan = planOf("quality_calibration")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"model + cascade must share one documents scan, got $scans")
    assert(!plan.contains("Join"), "no join between the two filters")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1, s"expected only the bin aggregate exchange, got $hashEx")
  }

  test("text_entropy: the wordcount pattern twice, hash-keyed, no joins") {
    val plan = planOf("text_entropy")
    assert(!plan.contains("Join"), "entropy needs no join")
    assert(!plan.toLowerCase.contains("window"), "no windows")
    // (doc, token-hash) counts partial-agg before their shuffle
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      s"map-side combine missing:\n${plan.take(2500)}")
    assert(plan.contains("xxhash64"),
      "token shuffle must carry the 8-byte hash, never the token string")
  }

  test("kanon_audit: one aggregate, violation filter above it") {
    val plan = planOf("kanon_audit")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1, s"expected one quasi-id agg exchange, got $hashEx")
    assert(!plan.contains("Join") && !plan.toLowerCase.contains("window"),
      plan.take(2000))
  }

  test("posttrain_curate: one events scan per consumer, survivors semi-join back") {
    val plan = planOf("posttrain_curate")
    // the survivor stage collapses the events log once (assembly) and
    // the pairing side reads it once more; distinct attribute sets
    // identify genuinely separate scans
    val eventScans = """FileScan parquet \[([^\]]*)\]""".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(eventScans.size <= 2,
      s"events scanned more than once per consumer:\n$eventScans\n${plan.take(2500)}")
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    assert(plan.contains("LeftSemi"),
      s"survivor admission must stay a semi join:\n${plan.take(2500)}")
  }

  test("pipeline_curate: one tree — dedup aggregates, decon probe broadcasts") {
    val plan = planOf("pipeline_curate")
    // exact-dedup survivors via hash aggregate (never a doc-count window);
    // the eval 5-gram set rides a broadcast LeftSemi so the train corpus
    // is never shuffled for decontamination
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"decon probe must broadcast the eval n-grams:\n${plan.take(3000)}")
    assert(!plan.contains("Window"), "dedup survivor pick must stay an aggregate")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), "no all-pairs stage anywhere")
  }

  test("sampling mixtures: corpus scalars ride broadcast frames, zero windows") {
    // the round-10 rewrite of the full-frame windows over domain-sized
    // aggregates (langBalance / tempTargets): totals must arrive via
    // broadcast scalar frames and the plan must carry no Window at all
    for (q <- Seq("lang_balance", "mix_temperature", "mix_upsample")) {
      val plan = planOf(q)
      assert(plan.contains("Broadcast"),
        s"$q: corpus totals must broadcast:\n${plan.take(2000)}")
      assert(!plan.contains("Window"),
        s"$q: no window may remain:\n${plan.take(2000)}")
    }
  }

  test("ivf_upsert plans as a pure scan pipeline: no join, no Window, one exchange") {
    // the incremental-ingest contract: centroids are compiled literals,
    // so assignment must stay scan-fused — a Join or Window appearing
    // here means the index structure leaked back in as a dataset
    val plan = SparkEntry.queries("ivf_upsert")(spark, dir)
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    assert(plan.collect { case j: Join => j }.isEmpty, s"no join allowed:\n$plan")
    assert(plan.collect { case w: LWindow => w }.isEmpty, s"no window allowed:\n$plan")
    val phys = planOf("ivf_upsert")
    assert(phys.contains("vecdot"), "assignment must run the fused native kernel")
  }

  test("decon_overlap broadcasts the eval side; train side never shuffles pre-agg") {
    val plan = planOf("decon_overlap")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "the eval shingle set must broadcast, not sort-merge against the corpus")
  }

  test("q18_sketches plans no Window at all (few-huge-groups hazard)") {
    // A Window.partitionBy(event_type) passes the unpartitioned-window
    // guard below while still putting ~corpus/5 in one task (5 event
    // types). q18's exact quantiles therefore use the distinct-value
    // counts decomposition (BoundedGlobal.withKeyedPrefixSum); pin that
    // NO Window node survives anywhere in the plan so the hazard can't
    // quietly return.
    val plan = SparkEntry.queries("q18_sketches")(spark, dir)
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, s"q18_sketches must stay window-free:\n$windows")
  }

  test("embed_binarize: scan-fused bit folds — zero hash exchanges") {
    // the pack is a per-row fold; only the presentation sort's range
    // exchange may appear, never a hash shuffle or a window
    val plan = planOf("embed_binarize")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"binarize must not shuffle:\n${plan.take(2000)}")
    assert(!plan.contains("Window"), plan.take(2000))
  }

  test("ann_ham_rerank: rerank behind the shortlist cut; one exchange, no sort") {
    // the matryoshka funnel contract: both stages are bounded top-k
    // aggregates keyed on q_id — stage 1's exchange satisfies stage 2's
    // distribution, so ONE hash exchange and the scored relation is
    // never sorted; the signature table is a materialized index
    // (Scan ExistingRDD), so the pack fold never re-derives per pair
    val df = SparkEntry.queries("ann_ham_rerank")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1,
      s"expected ONE hash exchange for both stages, got $hashExchanges:\n${plan.take(3000)}")
    assert(plan.contains("partial_topkstructs"), plan.take(2000))
    assert(!plan.contains("windowspecdefinition"), plan.take(2000))
    assert(plan.contains("Scan ExistingRDD"),
      "signatures must be a materialized index, not a per-pair re-derivation")
  }

  test("dpo_pairs: one partial-agg'd aggregate, no Window, no join") {
    // best/worst selection is max/min of structs — algebraic, so the
    // map side absorbs each group before the shuffle; the window
    // spelling (row_number twice + self-join) would shuffle every
    // candidate row and is exactly what this pin forbids
    val plan = planOf("dpo_pairs")
    assert(plan.contains("partial_"),
      s"map-side combine missing:\n${plan.take(2000)}")
    assert(!plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("NO query plans an unpartitioned Window over arbitrary input") {
    // The sweeping form of the BoundedGlobal contract: a global window
    // moves its whole input to one task, so every one of them was
    // either partitioned, or replaced by a BoundedGlobal pass with a
    // loud row bound. A future operator reintroducing one fails HERE,
    // not as an ignorable log warning. Logical plans only — no
    // execution — so the stream gates (whose construction runs a real
    // streaming query; their landed read-back is a plain scan with no
    // windows) and the trained-kmeans entries (driver-side training
    // collects) are exercised elsewhere and skipped for cost.
    val skip = (n: String) => n.startsWith("stream_") || n == "kmeans_assign"
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(skip)
      .flatMap { name =>
        val plan = SparkEntry.queries(name)(spark, dir)
          .queryExecution.optimizedPlan
        plan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => name
        }.headOption
      }
    assert(offenders.isEmpty,
      s"unpartitioned Window in: ${offenders.distinct.mkString(", ")}")
  }
}
