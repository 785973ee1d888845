package graft

/** Physical-plan audit: the properties that make these queries survive a
  * 100x scale-up must be visible in the plan, not assumed — parquet
  * filter pushdown, column pruning, broadcast of dimension tables, and
  * no cartesian products outside the intentionally bounded probes.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q_filter_pushdown pushes predicates into the parquet scan") {
    val p = plan("q_filter_pushdown")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate") && p.contains("l_quantity"))
    // projection pruned to the 3 referenced columns
    assert(!p.contains("l_comment") && !p.contains("l_orderkey#"))
  }

  test("events ts filters push down through the contract normalization") {
    // EventTime.normalizeTs casts TIMESTAMP_NTZ → TIMESTAMP; in a UTC
    // session Catalyst rewrites timestamp predicates through that cast
    // into NTZ literals AT THE SCAN. This is a pushdown the old
    // raw-int64 contract could never get — and a regression here would
    // silently turn every time-windowed events query into a full scan.
    val p = plan("q_count_today")
    assert(p.contains("PushedFilters: [IsNotNull(ts)"), p)
    assert(p.contains("GreaterThanOrEqual(ts") && p.contains("LessThan(ts"), p)
  }

  test("q1 scan reads only the referenced columns") {
    val p = plan("q1_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_suppkey"), readSchema)
  }

  test("dimension joins broadcast (q_top_groups, q5, q3)") {
    assert(plan("q_top_groups").contains("BroadcastHashJoin"))
    val q5 = plan("q5_local_supplier")
    assert(q5.contains("BroadcastHashJoin"))
    // the only non-broadcast join permitted is fact-fact on orderkey
    assert(!q5.contains("CartesianProduct"))
    assert(plan("q3_shipping_priority").contains("BroadcastHashJoin"))
  }

  test("q_sort_limit uses TakeOrderedAndProject, not a global sort") {
    val p = plan("q_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("aggregations are partial (map-side combine) before the shuffle") {
    val p = plan("q_daily_volume")
    assert(p.contains("HashAggregate") && p.contains("Exchange hashpartitioning"))
    // partial_ functions appear before the exchange in Spark's plan text
    assert(p.contains("partial_"), p)
  }

  test("whole-stage codegen active on the scan-agg path") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
    df.collect() // materialize THIS plan so AQE finalizes + codegens stages
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p) // WholeStageCodegen stage markers
  }

  test("similarity scoring broadcasts the probe side only") {
    val p = plan("s_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("cosine_similarity"), p)
  }

  test("similarity top-k is a partial aggregate, not a window over all scored rows") {
    val p = plan("s_cosine_topk")
    // TopKByScore runs as ObjectHashAggregate with a partial phase on
    // the map side — the exchange carries ≤ k rows per query per
    // partition, never the full scored corpus×queries relation
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Window partitionBy") && !p.contains("RunningWindowFunction"), p)
    assert(!p.contains("row_number"), p)
  }

  test("LSH bucket cap never shuffles the bands relation") {
    import graft.operators.Dedup
    val docs = Tables(spark, sfDir).documents
    val capped = Dedup.lshCandidates(Dedup.shingles(docs))
      .queryExecution.executedPlan.toString
    // the cap is a broadcast anti-join against the oversized-bucket
    // blacklist: the bands relation reaches the anti-join unshuffled
    // (its only shuffle-shaped cost is the tiny map-side-combined
    // (j, mh, count) aggregate that builds the broadcast blacklist) —
    // never a window count, which would hash-partition the full bands
    // relation on (j, mh) even when the candidate join broadcasts
    assert(capped.contains("LeftAnti"), capped)
    assert(capped.contains("BroadcastExchange") || capped.contains("BroadcastQueryStage"), capped)
    assert(!capped.contains("Window"), capped)
  }

  // streaming entries drain to a memory sink, so their returned frame's
  // plan is a memory-table scan regardless of pipeline shape (their
  // plans are audited via their batch twins); building them also runs
  // the whole stream — exclude from the registry-wide sweeps
  private val streamingEntries = Set("st_windowed_agg", "st_sessionize", "st_report_intake")

  // composite-pipeline entries whose registry frame is driver-local
  // stage ACCOUNTING (LocalTableScan) — building one executes the whole
  // eager pipeline (counts + percentile pulls) while offering nothing
  // for a plan sweep to audit; their constituent stages (Corpus.clean,
  // minhashLsh64, DedupPipeline, quality filter, sequence pack) are all
  // swept through their own registry entries
  private val eagerComposites = Set("d_training_prepare", "d_web_pipeline", "d_web_pipeline_model", "d_web_pipeline_substr", "w_zorder", "w_upsert", "w_rollup_refresh", "st_upsert_apply", "w_retention")

  /** Each swept entry built once, under [[ExecutedPlans]], as the set of
    * audited operators in the plans it ran: the returned frame's
    * executedPlan and the executed plan of every action its build ran.
    * Checkpoints are actions, so the full plan behind every Materialize
    * and Bounded checkpoint is audited, not the checkpoint scan the
    * returned frame shows. An entry that fails to build is kept as its
    * error: the sweeps name it instead of stopping at it.
    */
  private lazy val swept: Seq[(String, Either[String, Set[String]])] = {
    val audited = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(streamingEntries).filterNot(eagerComposites)
      .map { name =>
        name -> scala.util.Try(ExecutedPlans.during(spark)(SparkEntry.queries(name)(spark, sfDir)))
          .toEither.left.map(e => s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}")
          .map { case (df, ran) =>
            (df.queryExecution.executedPlan +: ran.map(_.executedPlan)).map(_.toString)
              .flatMap(p => audited.filter(p.contains)).toSet
          }
      }
  }

  /** Fails naming every swept entry outside `exempt` whose plans ran
    * `op`, and every one that did not build.
    */
  private def assertNoneRan(op: String, exempt: Set[String] = Set.empty): Unit = {
    val entries = swept.filterNot { case (name, _) => exempt(name) }
    val offenders = entries.collect { case (name, Right(ops)) if ops(op) => name }
    val unbuilt = entries.collect { case (name, Left(err)) => s"$name ($err)" }
    assert(offenders.isEmpty && unbuilt.isEmpty,
      s"$op in: ${offenders.mkString(", ")}; not built: ${unbuilt.mkString("; ")}")
  }

  test("no CartesianProduct anywhere in the registry") {
    // broadcast-bounded scoring crossJoins compile to
    // BroadcastNestedLoopJoin; a raw CartesianProduct anywhere means an
    // unhinted cross join slipped in — fail the build, name the query
    assertNoneRan("CartesianProduct")
  }

  test("BroadcastNestedLoopJoin appears only on intended scoring paths") {
    // the only legitimate nested-loop joins are the broadcast-bounded
    // vector-scoring crossJoins (queries/planes/centroids broadcast
    // against the corpus); anywhere else it means a join lost its
    // equi-condition
    // ...plus the ONE-ROW scalar-threshold broadcasts (TPC-H Q11/Q20/Q22
    // shapes): a computed scalar (corpus mean / avg balance) crossJoined
    // onto the frame it filters — a 1-row broadcast, bounded at any scale.
    // NOT allowed: s_pq_topk — the whole PQ path is broadcast EQUI joins
    // on (j, code); if it ever plans a nested loop, a join lost its keys.
    val allowed = Set(
      "s_cosine_topk", "s_hard_negatives", "s_kmeans_clusters", "s_cluster_balance",
      "d_embedding_neardup", "s_range_search",
      "d_embedding_neardup_ivf",
      "d_embedding_neardup_srp", "s_ivf_topk", "s_srp_topk", "s_knn_classify",
      "s_ivfpq_topk", "s_prefix_rerank_topk", "s_mmr_rerank",
      // streaming twins: the k-means fit's centroids and the range-search
      // queries broadcast against the corpus (as s_kmeans_clusters and
      // s_range_search)
      "st_kmeans_assign", "st_range_search",
      "q11_important_value", "q20_excess_shippers", "q22_inactive_customers",
      // 1-row corpus-total broadcast onto the token frame (same scalar
      // shape as the TPC-H threshold queries)
      "t_unigram_surprisal",
      // 1-row corpus-total + 1-row tercile-cuts broadcasts (CCNet)
      "t_ccnet_buckets", "d_web_pipeline_decontam", "d_web_pipeline_full",
      // 1-row vocabulary-size broadcast onto the bigram frame
      "t_bigram_surprisal",
      // 1-row model-totals broadcast onto the token frame (DSIR)
      "t_dsir_weight", "t_dsir_sample", "st_dsir_score",
      // 1-row node-count broadcast seeding the PageRank iteration
      "d_link_authority",
      // four 1-row summary frames crossJoined into the corpus-profile
      // row (the TPC-H scalar-threshold shape, bounded at any scale)
      "t_wimbd_stats")
    assertNoneRan("BroadcastNestedLoopJoin", exempt = allowed)
  }

  test("q6 is a pure pushed-down scan+agg: no join, filters reach parquet") {
    val p = plan("q6_forecast_revenue")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_discount") && p.contains("l_quantity"), p)
    assert(!p.contains("Join"), p)
  }

  test("q19 scores through a broadcast part join, never a window") {
    val p = plan("q19_disjunctive_rev")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("q18/q21 collapse their EXISTS/HAVING semantics into aggregates, not windows") {
    assert(!plan("q18_large_volume").contains("Window"))
    assert(!plan("q21_waiting_supplier").contains("Window"))
  }

  test("q13 keeps zero-order customers through a real outer join") {
    val p = plan("q13_order_distribution")
    assert(p.contains("LeftOuter"), p)
  }

  test("q10's top-20 is TakeOrderedAndProject, not a global sort") {
    assert(plan("q10_returned_items").contains("TakeOrderedAndProject"))
  }

  test("rank-filter top-N uses WindowGroupLimit (bounded per-partition state)") {
    val p = plan("q_window_topn_per_group")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("minhash candidate join is a hash join on (band, minhash), not all-pairs") {
    // audit the lazy candidate plan: the pipeline entry (d_minhash_lsh)
    // materializes via localCheckpoint to release its caches, which
    // truncates the visible lineage
    import graft.operators.Dedup
    val docs = Tables(spark, sfDir).documents
    val p = Dedup.lshCandidates(Dedup.shingles(docs))
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("simhash64 band-join cap never shuffles the banded relation") {
    import graft.operators.Dedup
    val docs = Tables(spark, sfDir).documents
    val p = Dedup.simhash64PairsFrom(Dedup.simhash64Bands(docs))
      .queryExecution.executedPlan.toString
    // same shape as the LSH cap: broadcast anti-join blacklist, never a
    // window count over the full (band_i, band_v) relation
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastQueryStage"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d_line_dedup is joins + hash aggregates: no window, no cartesian") {
    val p = plan("d_line_dedup")
    // owner-min and first-position are hash aggregates on the chunk key;
    // survival is an equi-join; reassembly aggregates per doc — a
    // corpus-wide Window or CartesianProduct would mean the shape broke
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("bloom prefilter keeps the corpus side shuffle-free") {
    val p = plan("d_bloom_prefilter")
    // membership is a scan-side predicate + broadcast verification join:
    // the candidate relation must never hit a SortMergeJoin exchange
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("production dedup paths carry no global sort (the gate orderBy lives in the registry only)") {
    // The driver gate sorts outputs for hash determinism, but a
    // production caller of the api/operator functions must not pay a
    // corpus-wide Sort+Exchange(range) on a 53M-row pair relation —
    // that was the dominant cost in d_winnow_dedup's 100× cell. Sweep
    // the big-output public entry points: global=true SortExec is the
    // defect; partition-local sorts (window/SMJ internals) are fine.
    // Every plan a path ran is walked into AQE's plan and its query
    // stages: a plain `collect` stops at AdaptiveSparkPlanExec, a leaf,
    // and a global sort always sits under one (its range exchange
    // makes AQE wrap the plan).
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    object aqe extends AdaptiveSparkPlanHelper
    val docs = Tables(spark, sfDir).documents.limit(200)
      .select(col("doc_id"), col("text")).cache()
    docs.count()
    try {
      val paths: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
        "minhashLsh" -> (() => Dedup.minhashLsh(docs)),
        "minhashLsh64" -> (() => Dedup.minhashLsh64(docs)),
        "simhash64Pairs" -> (() => Dedup.simhash64Pairs(docs)),
        "containmentPairs" -> (() => Dedup.containmentPairs(docs)),
        "lineDedup" -> (() => Dedup.lineDedup(docs)),
        "decontaminate" -> (() => Dedup.decontaminate(
          docs.filter(col("doc_id") % 97 =!= 0), docs.filter(col("doc_id") % 97 === 0))),
      )
      paths.foreach { case (name, build) =>
        val (df, ran) = ExecutedPlans.during(spark)(build())
        val globalSorts = (df.queryExecution.executedPlan +: ran.map(_.executedPlan))
          .flatMap(aqe.collect(_) { case s: SortExec if s.global => s })
        assert(globalSorts.isEmpty,
          s"$name: production path contains a global sort:\n${globalSorts.mkString("\n")}")
      }
    } finally { docs.unpersist(); () }
  }

  test("salted join actually takes the salted shuffle path, keyed on (key, salt)") {
    val p = plan("q_skew_join_salted")
    // the pattern exists for dims too big to broadcast — the hint must
    // hold the join off the broadcast path, and salt must be a join key
    // (that's what spreads a hot key over saltBuckets reducers)
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    val joinLine = p.linesIterator.find(_.contains("ShuffledHashJoin")).getOrElse("")
    assert(joinLine.contains("salt"), joinLine)
  }
}
