package graft

import graft.operators.WebPipeline.{evalExcerpts, stageRows}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured scale demo (SCALE.md): the three heaviest pipeline shapes —
  * xxhash64 MinHash-LSH dedup, the keyless band join (optimizer-binned),
  * and the staged funnel — run at 1×, 10×, and 100× the sf0.1 corpus,
  * recording wall time and plan stability. This converts the "designed
  * for scale" claims into measured data points: if a pipeline hides
  * something super-linear (an uncapped self-join, a nested loop, a
  * corpus-wide window), 100× is where it shows.
  *
  * Replication is VARIED, not copied, so the workload's statistical
  * shape survives scaling instead of degenerating:
  *  - documents: each replica applies its own deterministic PERMUTATION
  *    of the letter alphabet (identity at k=0, Fisher-Yates seeded by k
  *    otherwise), so replicas are mutually disjoint at EVERY textual
  *    granularity — word shingles AND character k-grams — while every
  *    intra-replica structure (duplicate clusters, token lengths, word
  *    frequencies, fingerprint density) is preserved exactly.
  *    (The previous scheme, a per-token "_k" salt, left char-grams
  *    INSIDE long tokens identical across replicas: winnowing-
  *    fingerprint pair volume then grew superlinearly from cross-replica
  *    long-token matches — measuring the replication artifact, not the
  *    pipeline. A permutation has no such seam; it also keeps token
  *    boundaries and lengths byte-exact, which the salt did not.)
  *  - events: ids shift per replica and timestamps shift by 35 days per
  *    replica (past the 30-day base range plus the band width), so
  *    per-user timelines and band-join pair volume scale linearly by
  *    construction — the honest load profile for a keyless band join,
  *    whose pair count is otherwise quadratic in co-located rows by
  *    problem definition, not by implementation.
  *
  * Usage: runMain graft.ScaleDemo [workDir] — generates the scaled
  * parquet once (reused across runs), prints one JSON line per
  * (scale, query) measurement.
  */
object ScaleDemo {

  /** Work-node classes whose disappearance under the measurement
    * aggregate means the optimizer ELIMINATED the operator instead of
    * running it. Two observed collapse classes motivate the guard:
    * projection-only plans collapse to parquet footer count-star under
    * count() (round 11, t_c4_rules "0.33 s for 500k docs" — metadata,
    * not filtering), and a row-preserving LEFT JOIN onto a per-key
    * aggregate is eliminated under count(1) TOGETHER with its whole
    * upstream subtree (round 14, d_decontaminate_scrub's void
    * "scale-FREE" cells: the gram explode and broadcast semi join never
    * executed). ScaleGuardSpec proves the old count()-only window trips
    * this guard on the scrub while the forced window passes it.
    */
  private val WorkNodes: Seq[String] =
    Seq("Join", "Generate", "Window", "Expand", "Aggregate", "Deduplicate",
      "Intersect", "Except", "Filter")

  private[graft] def workHistogram(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Map[String, Int] =
    plan.collect {
      case n if WorkNodes.exists(n.nodeName.contains) =>
        WorkNodes.find(n.nodeName.contains).get
    }.groupBy(identity).map { case (k, v) => k -> v.size }

  /** The measurement frame: ONE aggregate that counts rows AND hashes
    * every output column (bit_xor of xxhash64 over the full row
    * struct), so every column — and therefore every upstream operator —
    * is observable and nothing is prunable. count() alone is NOT a
    * measurement for the collapse classes documented on [[WorkNodes]].
    * Map-typed columns are stringified first (hash over an unordered
    * map is undefined and xxhash64 refuses it).
    */
  private[graft] def forcedFrame(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = df.schema.fields.map(f =>
      if (hasMap(f.dataType)) col(f.name).cast("string") else col(f.name))
    df.select(xxhash64(struct(cols.toSeq: _*)).as("h"))
      // bit_xor, not sum: ANSI mode overflows Long on summed hashes
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"))
  }

  /** True when the measured plan carries FEWER of any work-node class
    * than the query's own optimized plan — i.e. the optimizer removed
    * work under the measurement window and the cell would time
    * metadata, not the operator.
    */
  private[graft] def collapsedUnder(df: DataFrame, measured: DataFrame): Boolean = {
    val base = workHistogram(df.queryExecution.optimizedPlan)
    val got = workHistogram(measured.queryExecution.optimizedPlan)
    base.exists { case (k, c) => got.getOrElse(k, 0) < c }
  }

  val Scales: Seq[Int] = Seq(1, 10, 100)
  val Queries: Seq[String] =
    Seq("d_minhash_lsh_fast", "q_band_join_auto", "q_funnel", "s_cosine_topk")

  /** Queries whose plan INTENDS a BroadcastNestedLoopJoin: the
    * broadcast-bounded vector-scoring crossJoin (fixed query batch
    * broadcast against the corpus — the same allowlist PlanAuditSpec
    * keeps). For these, `nested_loop: true` is the expected shape, and
    * `degraded` below stays false.
    */
  val IntendedNested: Set[String] = Set("s_cosine_topk", "s_hard_negatives",
    "s_kmeans_clusters", "s_cluster_balance", "s_range_search",
    "s_prefix_rerank_topk", "s_mmr_rerank",
    // 1-row scalar broadcasts (corpus totals / vocabulary size /
    // model totals) — the same scalar-threshold shapes PlanAuditSpec
    // allowlists; bounded at any scale by construction
    "t_unigram_surprisal", "t_bigram_surprisal", "t_dsir_weight",
    "t_dsir_sample", "t_ccnet_buckets", "t_wimbd_stats",
    "q11_important_value", "q20_excess_shippers", "q22_inactive_customers",
    "d_link_authority")

  /** Custom cells: production compositions with no registry entry of
    * their own (their correctness lives in a parity spec, not an
    * oracle) whose at-scale cost still belongs in the artifact.
    * d_keep_best_fast = the keep-best keeper over the xxhash64
    * production LSH path (DedupKeepBest64Spec pins keeper-set parity
    * with the oracled md5 entry).
    */
  val CustomCells: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_keep_best_fast" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      graft.api.DedupPipeline.dedupKeepBestBy(
        docs,
        graft.operators.Dedup.minhashLsh64(docs.select(col("doc_id"), col("text"))),
        docs, graft.operators.TextAnalysis.qualityCol)
    }),
    // the full web composite on its PRODUCTION xxhash64 LSH path
    // (prepareWeb's default; the registry entry pins oracleHash=true
    // for the DuckDB gate — stage-count parity is WebPipelineSpec's)
    "d_web_pipeline_fast" -> ((s, dir) =>
      stageRows(graft.api.TrainingData.prepareWeb(Tables(s, dir).documents))),
    // the composite with a TRUE-MINORITY probe threshold (20 shingles
    // — the standalone entry's default) alongside the corpus-derived
    // decile cell: the two rows bound the probe arm's cost across its
    // regimes (the gate entry itself refuses the conf override, so
    // this is an explicit-argument custom cell)
    "d_web_pipeline_probe20" -> ((s, dir) =>
      stageRows(graft.api.TrainingData.prepareWeb(Tables(s, dir).documents,
        probeMaxShingles = 20))),
    // the model-quality arm at scale (trains the classifier on the
    // url-deduped corpus, scores the ccnet survivors — the
    // d_web_pipeline_model gate entry's production-hash twin)
    "d_web_pipeline_model_fast" -> ((s, dir) =>
      stageRows(graft.api.TrainingData.prepareWeb(Tables(s, dir).documents,
        modelQuality = true))),
    // the exact-substring coverage arm at scale (the
    // d_web_pipeline_substr gate entry's production-hash twin, run on
    // the natural corpus — a COST cell: the permutation replicas carry
    // no cross-replica spans, so the arm's attrition is ~0 and the
    // row measures the pure per-scale overhead of the coverage pass)
    "d_web_pipeline_substr_fast" -> ((s, dir) =>
      stageRows(graft.api.TrainingData.prepareWeb(Tables(s, dir).documents,
        exactSubstr = true))),
    // the decontamination arm at scale (the d_web_pipeline_decontam
    // gate entry's production-hash twin, same excerpt-mint eval set —
    // every 20th doc's extracted-text excerpt, so the eval set scales
    // with the corpus like the standalone scrub fixture and the arm's
    // attrition stays a real ~5% at every scale)
    "d_web_pipeline_decontam_fast" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      stageRows(graft.api.TrainingData.prepareWeb(docs,
        decontaminateEval = Some(evalExcerpts(docs))))
    }),
    // ALL THREE ARMS composed (the d_web_pipeline_full gate entry's
    // production-hash twin): model + substr + decontam on the natural
    // corpus with the corpus-scaled excerpt eval set — the cell bounds
    // what the 15-stage production shape costs relative to the
    // single-arm cells (the substr arm runs as a pure-overhead pass on
    // the permutation replicas, like d_web_pipeline_substr_fast)
    "d_web_pipeline_full_fast" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      stageRows(graft.api.TrainingData.prepareWeb(docs, modelQuality = true,
        exactSubstr = true, decontaminateEval = Some(evalExcerpts(docs))))
    }))

  /** Content fingerprint of the base corpus: path plus (size, mtime) of
    * every file under the three source tables. A path-only marker proved
    * insufficient — the driver regenerates testdata IN PLACE, so the same
    * path can mean different bytes across rounds; stale scaled data would
    * then be measured under the new base's name.
    */
  def baseFingerprint(base: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val files = Seq("documents", "events", "embeddings")
      .map(t => new java.io.File(s"$base/$t.parquet")).filter(_.exists).flatMap(walk)
    base + "\n" + files.map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("\n")
  }

  /** Deterministic permutation of a-z for replica `i` (identity at 0):
    * Fisher-Yates driven by an LCG seeded with the replica id.
    */
  def permutedAlphabet(i: Int): String = {
    val a = ('a' to 'z').toArray
    if (i > 0) {
      var x = i.toLong * 6364136223846793005L + 1442695040888963407L
      var j = a.length - 1
      while (j > 0) {
        x = x * 6364136223846793005L + 1442695040888963407L
        val m = ((x >>> 33) % (j + 1)).toInt
        val t = a(j); a(j) = a(m); a(m) = t
        j -= 1
      }
    }
    new String(a)
  }

  def generate(spark: SparkSession, base: String, workRoot: String, k: Int): String = {
    val dir = s"$workRoot/x$k"
    // marker v4: replicas vary by alphabet permutation, not token salt
    // (content-fingerprinted via baseFingerprint; replica events carry
    // ts as plain TIMESTAMP).
    val marker = new java.io.File(s"$dir/_GENERATED_V4")
    if (marker.exists() &&
        new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8") ==
          baseFingerprint(base))
      return dir
    // events.ts is normalized to TimestampType up front (whatever the
    // base contract), so the written replica carries plain TIMESTAMP —
    // which Tables.events passes through unchanged.
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val events = EventTime.normalizeTs(
      spark.read.parquet(s"$base/events.parquet"), s"$base/events.parquet")
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val docN = 10000000L
    val evN = 10000000L
    val userN = 100000L
    val embN = 10000000L
    // the replica id-shift scheme silently corrupts the load profile if
    // the base corpus outgrows the shift constants — fail loudly instead
    locally {
      val d = docs.agg(max("doc_id")).collect()(0).getLong(0)
      val er = events.agg(max("event_id"), max("user_id")).collect()(0)
      val v = emb.agg(max("vec_id")).collect()(0).getLong(0)
      require(d < docN && er.getLong(0) < evN && er.getLong(1) < userN && v < embN,
        s"base ids exceed replica shift constants: doc=$d ev=${er.getLong(0)} " +
          s"user=${er.getLong(1)} vec=$v")
    }
    val reps = spark.range(k).select(col("id").cast("int").as("k"))
    // per-replica alphabet permutation (see scaladoc): k=0 stays the
    // original corpus byte for byte; upper/lower case permute in
    // lockstep so case structure survives
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val perms = spark.createDataFrame(
      (0 until k).map { i => (i, permutedAlphabet(i)) }
    ).toDF("k", "perm")
    docs.crossJoin(reps).join(broadcast(perms), "k")
      .withColumn("text", expr(
        s"translate(text, '$lower${lower.toUpperCase}', concat(perm, upper(perm)))"))
      .select(
        (col("doc_id") + col("k") * docN).as("doc_id"),
        col("text"), col("lang"), col("source"),
        length(col("text")).cast("bigint").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    events.crossJoin(reps)
      .select(
        (col("event_id") + col("k") * evN).as("event_id"),
        expr("timestampadd(DAY, k * 35, ts)").as("ts"),
        (col("user_id") + col("k") * userN).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    emb.crossJoin(reps)
      // component-wise k-perturbation: replicas are distinct vectors
      // with distinct neighbor structure, not 100 identical copies
      // (the query set stays vec_id < 10 — fixed query batch over a
      // growing corpus, the honest vector-search load profile)
      .select(
        (col("vec_id") + col("k") * embN).as("vec_id"),
        expr("transform(embedding, v -> CAST(v + k * 0.0009765625 AS FLOAT))")
          .as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    marker.getParentFile.mkdirs()
    java.nio.file.Files.write(marker.toPath, baseFingerprint(base).getBytes("UTF-8"))
    dir
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // mode flag FIRST, then positionals: `--audit` used to fall through
    // to the positional parse as workRoot, so the audit's generate()
    // wrote its 1× corpus into a repo directory literally named
    // `--audit` (and it got committed). Audit mode always uses the
    // scratch root.
    val audit = args.headOption.contains("--audit")
    val rest = if (audit) args.drop(1) else args
    val workRoot =
      if (audit) "/tmp/graft_scale" else rest.headOption.getOrElse("/tmp/graft_scale")
    // optional overrides: arg 2 = comma-separated scales (e.g. "1000"
    // for the stretch cell), arg 3 = comma-separated query names
    val scales = rest.lift(1).map(_.split(",").toSeq.map(_.toInt)).getOrElse(Scales)
    val queryNames = rest.lift(2).map(_.split(",").toSeq).getOrElse(Queries)
    val spark = GraftSession.build("graft-scale")
    val queries = SparkEntry.queries
    // --audit mode (no timing): for each named query, report whether
    // the PRE-round-15 count()-only measurement window loses work nodes
    // — the collapse classes documented on WorkNodes — so historical
    // cells measured under that window can be identified and
    // re-measured. Run as: runMain graft.ScaleDemo --audit q1,q2,...
    if (audit) {
      val names = rest.headOption.map(_.split(",").toSeq)
        .getOrElse((Queries ++ CustomCells.keys).distinct)
      val dir = generate(spark, base, workRoot, 1)
      for (q <- names) {
        val res = try {
          val df = CustomCells.getOrElse(q, queries(q))(spark, dir)
          val hist = workHistogram(df.queryExecution.optimizedPlan)
          val countPlan = workHistogram(
            df.agg(count(lit(1))).queryExecution.optimizedPlan)
          val lost = hist.collect {
            case (n, c) if countPlan.getOrElse(n, 0) < c =>
              s"$n:${c - countPlan.getOrElse(n, 0)}"
          }.toSeq.sorted
          // projection-only plans (no work nodes at all) collapse to
          // footer count-star — flag them too
          val projOnly = hist.isEmpty
          s"""{"query":"$q","count_window_collapses":${lost.nonEmpty || projOnly},"lost":"${lost.mkString(",")}","projection_only":$projOnly}"""
        } catch { case e: Throwable =>
          s"""{"query":"$q","error":"${Option(e.getMessage).getOrElse("").take(120).replace('"', ' ')}"}"""
        }
        println(s"GRAFT_SCALE_AUDIT $res")
      }
      spark.stop()
      return
    }
    val out = new StringBuilder
    // untimed priming pass at 1×: JIT + codegen warmup otherwise lands
    // on the first measured cell and makes 1× read slower than 10× —
    // primed through the SAME forced window the measured cells use
    locally {
      val dir = generate(spark, base, workRoot, 1)
      for (q <- queryNames) {
        forcedFrame(CustomCells.getOrElse(q, queries(q))(spark, dir)).head(); ()
      }
      spark.catalog.clearCache()
    }
    for (k <- scales) {
      val dir = generate(spark, base, workRoot, k)
      for (q <- queryNames) {
        // time construction + execution: the LSH pipelines materialize
        // their signature table eagerly (persist + bucket-cap collect)
        // during construction, so a count-only window would credit the
        // heavy lifting to warm cache and report decreasing times at
        // increasing scale
        spark.catalog.clearCache()
        val cell = try { Right {
        val t0 = System.nanoTime()
        val df = CustomCells.getOrElse(q, queries(q))(spark, dir)
        // EVERY cell runs the forced count+hash window (round-15
        // re-baseline): count() alone is not a measurement for the two
        // collapse classes documented on WorkNodes, and the round-11
        // per-query `forced` allowlist was exactly the mistake that let
        // round 14's new projection-shaped cells ship void numbers —
        // an allowlist has to be REMEMBERED. The guard below would have
        // redded those cells: it flags any measurement plan that lost
        // work nodes relative to the query's own optimized plan.
        val measured = forcedFrame(df)
        val collapsed = collapsedUnder(df, measured)
        val rows = measured.head().getLong(0)
        val sec = (System.nanoTime() - t0) / 1e9
        val plan = df.queryExecution.executedPlan.toString
        val nested = plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct")
        if (collapsed)
          System.err.println(s"GRAFT_SCALE_COLLAPSED $q at $k: measurement " +
            "plan lost work nodes — cell is VOID, fix the query or the window")
        (sec, rows, nested, collapsed)
        }} catch {
          // record the failing cell as an artifact row and keep
          // sweeping — one OOM/abort must not discard every other
          // cell's measurement (a failed cell IS a scale data point)
          case e: Throwable =>
            Left(Option(e.getMessage).getOrElse(e.getClass.getName)
              .map(c => if (c < ' ' || c == '"' || c == '\\') ' ' else c)
              .take(300))
        }
        val line = cell match {
          case Right((sec, rows, nested, collapsed)) =>
            val degraded = nested && !IntendedNested(q)
            s"""{"scale":$k,"query":"$q","sec":$sec,"rows":$rows,"nested_loop":$nested,"degraded":$degraded,"collapsed":$collapsed}"""
          case Left(err) =>
            s"""{"scale":$k,"query":"$q","error":"$err"}"""
        }
        println(s"GRAFT_SCALE_JSON $line")
        out.append(line).append('\n')
      }
    }
    // MERGE into the artifact: replace any previously-measured
    // (scale, query) cells re-run now, keep the rest — so a selective
    // re-measurement (args 2/3) refreshes its cells without wiping the
    // full sweep's rows
    val path = java.nio.file.Paths.get("scale_result.jsonl")
    val measured = (for { k <- scales; q <- queryNames }
      yield s""""scale":$k,"query":"$q"""").toSet
    val kept =
      if (java.nio.file.Files.exists(path))
        new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
          .split("\n").toSeq.filter(_.nonEmpty)
          .filterNot(line => measured.exists(line.contains))
      else Seq.empty
    java.nio.file.Files.write(path,
      (kept ++ out.toString.split("\n").toSeq.filter(_.nonEmpty))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
