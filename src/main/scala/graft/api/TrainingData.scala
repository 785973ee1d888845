package graft.api

import graft.operators.{Corpus, Dedup, Par, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One-call training-data preparation: the composition every LLM corpus
  * pipeline runs, wired from the engine's own stages —
  *
  *   hygiene (Corpus.clean) → exact dedup (content-hash groupBy) →
  *   MinHash-LSH near-dup dedup (xxhash64 production path + connected
  *   components, smallest id survives) → global quality-quantile filter →
  *   deterministic hash split (train/val/test) → context-window packing
  *   plan for the train split
  *
  * plus a per-stage row accounting so every document dropped is
  * attributable to exactly one stage (the property corpus audits need;
  * silent attrition is how training sets rot).
  *
  * Scale shape: each stage is the already-audited at-scale operator,
  * and each counted stage is persisted for the duration of the call so
  * the count action and the downstream stage read ONE materialization —
  * without that, every count replays the full lineage from the scan
  * (hygiene would run ~6×). All stage caches are released before
  * returning; the result frame is localCheckpointed so it survives the
  * release. The only driver-side values are the per-stage counts and
  * the ONE quality-threshold double (same two-pass shape as
  * t_quality_filter).
  */
object TrainingData {

  /** The prepared corpus, the near-dup pairs the dedup stage acted on
    * (exposed so audits/specs reason about the SAME pair set — re-running
    * LSH on the deduped corpus can surface pairs the oversized-bucket cap
    * suppressed in the original corpus), and per-stage row counts.
    */
  final case class Prepared(corpus: DataFrame, pairs: DataFrame,
                            stages: Seq[(String, Long)])

  /** [[prepareWeb]]'s result: the prepared corpus (doc_id, url,
    * canon_url, text, quality, n_tokens, surprisal, bucket, split,
    * bin), the near-dup pair set the keep-best stage acted on, and the
    * ordered per-stage survivor counts — stages are strictly nested
    * filters, so consecutive differences attribute every dropped doc to
    * exactly one stage.
    */
  final case class PreparedWeb(corpus: DataFrame, pairs: DataFrame,
                               stages: Seq[(String, Long)])

  /** Deterministic md5 percent bucket of the doc id — stable across
    * runs, engines, and repartitioning (same convention as
    * t_hash_split).
    */
  private def pctBucket = pmod(
    conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("bigint"),
    lit(100L))

  /** The tail [[prepare]] and [[prepareWeb]] share: the deterministic
    * 80/10/10 train/val/test hash split (`split`), then the packing
    * plan of the train rows (`bin` = `"<bucket>_<bin>"`, null on
    * val/test). Only train tokens advance the bin timelines — val/test
    * rows in the same bucket must not inflate train bins. The bucket
    * count derives from `nDocs` (packBucketCount), so the parallelism
    * ceiling scales with the corpus.
    */
  private def splitAndPack(df: DataFrame, tokens: Column, binTokens: Int,
                           nDocs: Long): DataFrame = {
    val train = col("split") === "train"
    val (bucket, bin) = TextAnalysis.packPlan(tokens, train, binTokens,
      TextAnalysis.packBucketCount(nDocs))
    df.withColumn("split",
        when(pctBucket < 80, "train").when(pctBucket < 90, "val").otherwise("test"))
      .withColumn("bin", when(train, concat_ws("_", bucket, bin)))
  }

  /** prepareWeb's corpus-derived probe threshold: the smallest shingle
    * count covering the bottom DECILE of the `n`-doc survivor frame —
    * pure integer arithmetic (rank ceil(n/10) into a cumulative count
    * over DISTINCT shingle sizes; a float quantile's interpolation is
    * not integer-stable cross-engine, and the oracle's pthr CTE
    * recomputes exactly this). The windowed relation is DISTINCT
    * sizes — bounded by max document length in words, never corpus
    * size. 0 (no probes) on an empty frame.
    */
  private[graft] def survivorProbeThreshold(texts: DataFrame, n: Long): Int =
    survivorProbeThresholdOn(graft.operators.Dedup.shingles(texts), n)

  /** [[survivorProbeThreshold]] over an existing (doc_id, sh) shingle
    * frame — prepareWeb shares ONE persisted shingle frame between this
    * derivation and the LSH arm (r16: the derivation was its own full
    * corpus shingle pass).
    */
  private[graft] def survivorProbeThresholdOn(shingled: DataFrame, n: Long): Int =
    survivorProbeThresholdAndCountOn(shingled, n)._1

  /** [[survivorProbeThresholdOn]] plus the PROBE COUNT the derivation
    * already knows: the cumulative count AT the threshold row IS
    * |{docs : nsh ≤ thr}| — exactly the probe-slice count the
    * containment probe's broadcast/partitioning decisions need, so
    * prepareWeb passes it down instead of paying a separate count
    * action over the probe slice (r16). (0, 0) on an empty frame.
    */
  private[graft] def survivorProbeThresholdAndCountOn(shingled: DataFrame,
                                                      n: Long): (Int, Long) = {
    val need = (n + 9L) / 10L
    val wCum = Window.orderBy("nsh")
    val thrRows = shingled
      .select(size(col("sh")).cast("bigint").as("nsh"))
      .groupBy("nsh").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(wCum))
      .filter(col("cum") >= need)
      .orderBy("nsh")
      .select(col("nsh"), col("cum"))
      .head(1)
    if (thrRows.isEmpty) (0, 0L)
    else (thrRows(0).getLong(0).toInt, thrRows(0).getLong(1))
  }

  /** Run the full preparation over a (doc_id, text, ...) frame.
    *
    * @param qualityQuantile  drop docs below this corpus quality
    *                         quantile (0.25 = drop the worst quartile)
    * @param binTokens        context-window size for the packing plan
    */
  def prepare(docs: DataFrame, qualityQuantile: Double = 0.25,
              binTokens: Int = 2048): Prepared = {
    val stages = Seq.newBuilder[(String, Long)]
    stages += "raw" -> docs.count()

    val cleaned = Corpus.clean(docs).persist()
    try {
      stages += "cleaned" -> cleaned.count()

      // exact dedup: one content hash per group survives (smallest id —
      // deterministic, and consistent with the near-dup representative
      // rule below)
      val keepIds = cleaned.groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("doc_id")).select("doc_id")
      val exact = cleaned.join(keepIds, Seq("doc_id"), "left_semi").persist()
      try {
        stages += "exact_dedup" -> exact.count()

        // near-dup dedup on the production xxhash64 LSH path; cluster by
        // connected components, keep the smallest id per cluster. The
        // pair list is small and already materialized by minhashLsh64.
        val pairs = Dedup.minhashLsh64(exact.select(col("doc_id"), col("text")))
        val deduped = DedupPipeline.dedup(exact, pairs).persist()
        try {
          stages += "neardup_dedup" -> deduped.count()

          // global quality floor: the corpus-wide quantile reaches the
          // scan as ONE literal (no join, no broadcast relation); a
          // fully-cleaned-away corpus has no quantile — keep nothing to
          // filter instead of NPE-ing on the null aggregate
          val scored = deduped.withColumn("quality", TextAnalysis.qualityCol)
          val thrRow = scored.agg(expr(s"percentile(quality, $qualityQuantile)")).head()
          val thr = if (thrRow.isNullAt(0)) Double.NegativeInfinity
                    else thrRow.getDouble(0)
          val filtered = scored.filter(col("quality") >= lit(thr))

          // deterministic split + packing plan (train only); the corpus
          // carries n_tokens between split and bin
          val nFiltered = filtered.count()
          stages += "quality_filter" -> nFiltered
          val packed = splitAndPack(
              filtered.withColumn("n_tokens", expr("CAST(size(split(text, ' ')) AS BIGINT)")),
              col("n_tokens"), binTokens, nFiltered)
            .select((filtered.columns ++ Seq("split", "n_tokens", "bin")).map(col): _*)
          // one materialization for callers + counts, surviving the
          // stage-cache release below (lazy: the count materializes it)
          val out = packed.localCheckpoint(false)
          stages += "final" -> out.count()
          Prepared(out, pairs, stages.result())
        } finally deduped.unpersist(false)
      } finally exact.unpersist(false)
    } finally cleaned.unpersist(false)
  }

  /** The one-call WEB-corpus pipeline — the full crawl-to-training-set
    * composition wired from the engine's own gate-green stages:
    *
    *   WARC fetch (real record parse + HTML boilerplate strip) →
    *   RFC 9309 robots gate → RFC 3986 URL-canonicalization dedup →
    *   Gopher + C4 + FineWeb published-filter battery → exact dedup →
    *   near-dup dedup (banded LSH UNION the containment-complete
    *   short-doc probe — embedded excerpts the LSH collision knee
    *   misses) with the QUALITY-AWARE keep-best keeper → [optional
    *   exact-substring coverage filter (exactSubstr arm): survivors
    *   more than half covered by spans duplicated among the
    *   survivors drop — the partial-copy blind spot both near-dup
    *   arms keep] → CCNet
    *   head/middle bucketing (tail dropped) → deterministic hash
    *   split + context-window packing plan
    *
    * with [[prepare]]'s per-stage attrition accounting: stages are
    * strictly NESTED filters over doc_id, so every dropped document is
    * attributable to exactly one stage and the drops telescope to
    * raw − final (WebPipelineSpec pins both).
    *
    * Fixture conventions carried from the standalone entries (the
    * synthetic corpus is single-line word soup): robots files and URL
    * variants are doc_id-derived exactly as t_robots_rules /
    * t_url_canonicalize build them; the line-level C4 and FineWeb
    * batteries run over each entry's own deterministic page re-lining
    * (c4PageTable / fwPageTable) of the extracted text; Gopher runs on
    * the extracted text directly with its stopword floor re-thresholded
    * to ≥ 1 — the corpus vocabulary carries only one of the eight
    * Gopher stopwords, so the paper's ≥ 2 would zero every document
    * (the per-rule booleans exist exactly so pipelines can
    * re-threshold; WebPipelineSpec proves the necessity).
    *
    * Scale shape: every stage is the already-audited at-scale operator;
    * each stage is eagerly localCheckpointed so its count action and
    * the next stage read one materialization AND the lazy plan resets
    * per stage (see the in-body comment — the self-joining stage shape
    * otherwise grows the plan exponentially in stage count, a DRIVER
    * failure mode no executor count fixes). The only driver-side values
    * are the per-stage counts; every join onto the corpus is a doc_id
    * semi/inner join (hash joins on the id, never a corpus-wide window
    * or sort).
    *
    * Attribution: every Spark job the call submits runs under the job
    * description `web:<stage>`, where `<stage>` is a `stages` name
    * (near-dup sub-steps: `web:neardup_keepbest/<step>`), so Spark's
    * event log folds per stage (scripts/event_log_stages.py). The
    * caller's own description is restored on return.
    *
    * @param oracleHash true = md5 LSH signatures (DuckDB-checkable —
    *                   the d_web_pipeline gate entry); false = the
    *                   xxhash64 production path (default, same banding
    *                   and verification, several times faster hashing)
    * @param probeMaxShingles explicit short-doc probe threshold; ≤ 0
    *                   (default) derives it from the corpus — the
    *                   smallest shingle count covering the bottom
    *                   decile of battery survivors
    * @param modelQuality add the model-quality filter stage
    *                   (`model_keep`): train t_quality_model's
    *                   classifier on the url-deduped corpus, score the
    *                   ccnet survivors, keep the top ~90% by score
    * @param exactSubstr add the exact-substring coverage filter stage
    *                   (`substr_keep`): drop near-dup survivors MORE
    *                   THAN HALF covered by 40-char spans duplicated
    *                   among the survivors themselves — the
    *                   partially-copied tail the near-dup stage
    *                   provably keeps (a doc sharing ~60% of its text
    *                   has Jaccard ≈ 0.43, below the 0.5 verification
    *                   tau on BOTH candidate arms)
    * @param decontaminateEval add the benchmark-decontamination stage
    *                   (`decontam_keep`): drop survivors sharing ANY
    *                   stride-1 40-char gram with this eval/benchmark
    *                   set — the filter every published production
    *                   pipeline runs before a corpus ships (GPT-3
    *                   appendix C, PaLM §6.1), here at exact-substring
    *                   strength via the rolling-hash marking pass
    *                   (Dedup.contaminatedPositions). FLAG-AND-DROP,
    *                   not a rewrite: a pipeline stage must keep the
    *                   strictly-nested doc_id-filter contract the
    *                   attrition accounting builds on (the span-cut
    *                   REWRITE is the standalone d_decontaminate_scrub)
    */
  def prepareWeb(docs: DataFrame, oracleHash: Boolean = false,
                 binTokens: Int = 2048,
                 probeMaxShingles: Int = 0,
                 packByBpe: Boolean = false,
                 modelQuality: Boolean = false,
                 exactSubstr: Boolean = false,
                 decontaminateEval: Option[DataFrame] = None): PreparedWeb = {
    import graft.operators.TextAnalysis
    val spark = docs.sparkSession
    import spark.implicits._
    val stages = Seq.newBuilder[(String, Long)]
    // localCheckpoint (eager) per stage, NOT persist: every stage joins
    // the corpus against a derivation OF ITSELF (keeper ids, pass ids),
    // so each stage doubles the lazy plan — k chained stages build a
    // 2^k-node plan that chokes the DRIVER (observed: Catalyst's plan
    // string alone overflowed an 8 GiB heap on the 500-doc gate corpus)
    // long before any data moves. Cutting lineage at each counted stage
    // keeps the plan linear in stage size; the storage cost is the same
    // persist the count already paid for, and checkpoint blocks are
    // GC-released by the context cleaner when the stage frame drops.
    var lastCount = 0L
    // job attribution: see the scaladoc
    def described[T](step: String)(body: => T): T =
      graft.GraftSession.described(spark, s"web:$step")(body)
    def stage(name: String)(df: => DataFrame): DataFrame = described(name) {
      // widen before materializing: a stage frame otherwise inherits
      // the first shuffle's AQE-coalesced partition count, so every
      // later pass runs at a fraction of the cluster's parallelism
      // (Par.widen no-ops once the pipeline is wide); hash-partitioning
      // by doc_id pre-aligns it with every downstream doc_id join. The
      // count materializes the lazy localCheckpoint: one job per stage.
      val p = Par.widen(df, col("doc_id")).localCheckpoint(false)
      lastCount = p.count()
      stages += name -> lastCount
      p
    }
    locally {
      stages += "raw" -> described("raw")(docs.count())

      // fetch: pack the corpus into WARC blobs, parse the records back,
      // strip HTML boilerplate — the p_warc_extract chain, kept here so
      // the composite exercises the REAL crawl front door end to end
      val fetched = stage("warc_fetch")(
        TextAnalysis.warcBlobs(docs)
          .flatMap { case (_, blob) =>
            graft.functions.WarcRecords.parse(blob).getOrElse(Seq.empty)
              .map(TextAnalysis.warcPageText)
          }.toDF("doc_id", "url", "text"))

      // robots gate: fetch-permission decisions through the real
      // RFC 9309 parse/match path (t_robots_rules' fixture scheme)
      val allowedIds = TextAnalysis.robotsDecisions(docs.select(col("doc_id")))
        .filter(col("allowed")).select("doc_id")
      val robots = stage("robots_gate")(
        fetched.join(allowedIds, Seq("doc_id"), "left_semi"))

      // URL dedup: canonicalize doc_id-derived raw variants through the
      // real RFC 3986 normalizer; every 10th doc's variant collides
      // with its predecessor's canonical form, min doc_id survives
      val canon = graft.operators.Par.widen(docs.select(col("doc_id")),
          col("doc_id")).as[Long].map { d =>
        val k = d - (if (d % 10 == 7) 1L else 0L)
        val raw = (if (d % 2 == 0) "HTTPS" else "https") +
          s"://SITE${k % 5}.Test" + (if (d % 3 == 0) ":443" else "") +
          s"/d/../doc/$k" + (if (d % 5 == 0) "#frag" else "")
        (d, graft.functions.UrlCanonical.canonicalize(raw).get.url)
      }.toDF("doc_id", "canon_url")
      val withCanon = robots.join(canon, "doc_id")
      val urlKeepers = withCanon.groupBy("canon_url")
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val urlDeduped = stage("url_dedup")(
        withCanon.join(urlKeepers, Seq("doc_id"), "left_semi"))

      // published-filter battery, one attrition stage per filter.
      // Gopher filters in ONE pass (r16): the battery is a pure
      // projection, so the pass condition rides the stage frame
      // directly — the old keep-id set + semi join re-scanned the
      // urlDeduped checkpoint a second time per stage for identical
      // rows. (C4/FineWeb keep the join shape: their metrics run over
      // a page-TRANSFORMED text, so the keep decision must map back to
      // the original rows anyway.)
      val gophered = stage("filter_gopher")(
        TextAnalysis.gopherRules(urlDeduped, carry = Seq("url", "canon_url"),
            keepText = true)
          .filter(TextAnalysis.gopherWeakPassCond)
          .select(col("doc_id"), col("url"), col("text"), col("canon_url")))

      // Gopher's OTHER half — the A1.2 repetition battery on the same
      // extracted text (word-n-gram rules; the line/paragraph rules
      // live in the FineWeb stage's duplicate-line cap). Inlined as a
      // typed-filter ONE pass (r16, the filter_c4 treatment): the pass
      // is a row-local function of (doc_id, text), so the old keep-id
      // map + semi join re-scanned the gophered checkpoint a second
      // time (and re-shuffled an id set at scale) for a decision the
      // row carries. Scorer and pass rule are shared with the
      // oracle-gated gopherRepetition entry (gopherRepScore /
      // gopherRepPassOf), so the stage cannot drift from it.
      val reped = stage("filter_gopher_rep") {
        val idIdx = gophered.schema.fieldIndex("doc_id")
        val tIdx = gophered.schema.fieldIndex("text")
        gophered.filter { r: org.apache.spark.sql.Row =>
          TextAnalysis.gopherRepPassOf(
            TextAnalysis.gopherRepScore(r.getLong(idIdx), r.getString(tIdx)))
        }
      }

      // C4/FineWeb now filter in ONE pass too (r16): their pass
      // conditions are deterministic row-local functions of
      // (doc_id, text) — page re-lining included — so the old keep-id
      // projection + semi join re-scanned the upstream checkpoint a
      // second time per stage (and at 100 TB re-shuffled a corpus-sized
      // id set) for a decision the row itself carries. The page text is
      // lambda-BOUND (aggregate over a 1-element array) rather than
      // textually substituted, so it is evaluated once per row even
      // though the pass references it three times; same for the
      // FineWeb line arrays. The pass fragments are shared with
      // c4Rules/finewebRules (c4PassExpr/fwPassExpr), so the inlined
      // stage cannot drift from the oracle-gated standalone entries.
      val c4ed = stage("filter_c4")(
        reped.filter(expr(
          s"""aggregate(array(${TextAnalysis.C4PageExprSpark}), false,
             |  (c4acc, t) -> ${TextAnalysis.c4PassExpr("t")})""".stripMargin)))

      val fwed = stage("filter_fineweb")(
        c4ed.filter(expr(
          s"""aggregate(array(${TextAnalysis.FwPageExprSpark}), false,
             |  (fwacc0, t) -> aggregate(array(split(t, '\\n')), false,
             |    (fwacc1, ls) -> aggregate(array(array_sort(ls)), false,
             |      (fwacc2, sl) -> ${TextAnalysis.fwPassExpr("ls", "sl")})))""".stripMargin)))

      // exact dedup on the extracted text, min doc_id survives
      val exKeepers = fwed.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val exact = stage("exact_dedup")(
        fwed.join(exKeepers, Seq("doc_id"), "left_semi"))

      // near-dup dedup with the quality-aware keep-best keeper. TWO
      // candidate arms, unioned: banded LSH for the bulk of the corpus,
      // plus the containment-COMPLETE short-doc probe — an excerpt
      // embedded in a long doc has containment ≈ 1 but Jaccard below
      // the banded collision knee, so LSH alone provably misses it
      // (Dedup.containmentProbePairs' scaladoc derives the miss
      // probability; WebPipelineSpec pins an excerpt the banded arm
      // keeps and this arm dedups). "Short" is CORPUS-RELATIVE, not a
      // constant: the threshold is the smallest shingle count covering
      // the bottom decile of the battery survivors (round 13's fixed
      // 100 happened to span most of the gate corpus's survivor
      // lengths, so the probe arm ran as a second corpus-wide pass and
      // the bounded-broadcast restriction path never fired in the
      // product). The derivation is pure integer arithmetic
      // (ceil(n/10) rank into a cumulative count over DISTINCT sizes —
      // a relation bounded by max document length, never corpus size;
      // a float quantile's interpolation is not integer-stable
      // cross-engine). An explicit probeMaxShingles argument overrides
      // the derivation.
      // Both arms are exact-gram verified, so the union is hash-path
      // independent (identical under md5 and xxhash64 LSH signatures).
      val exTexts = exact.select(col("doc_id"), col("text"))
      // ONE persisted shingle frame feeds both the probe-threshold
      // derivation and the LSH arm (r16): each previously ran its own
      // full corpus shingle pass — the threshold action below builds
      // the cache, the signature/verify reads reuse it, and the frame
      // is released as soon as the pair list is materialized. The
      // containment probe keeps its own deliberately-UNCACHED streaming
      // passes (the measured 1000× memory discipline documented in
      // containmentProbePairs).
      val exSh = graft.operators.Dedup.shingles(exTexts).persist()
      // (threshold, probe-slice count) in ONE derivation: the cumulative
      // count at the threshold row IS the probe count the probe's
      // bound/partitioning decisions need (r16 — previously a separate
      // count action over the probe slice). An explicit threshold has
      // no derivation to read it from, so the probe counts for itself.
      val (probeThr: Int, probeCount: Long) =
        if (probeMaxShingles > 0) (probeMaxShingles, -1L)
        else described("neardup_keepbest/probe_thr") {
          survivorProbeThresholdAndCountOn(exSh, lastCount) }
      val lshPairs = described("neardup_keepbest/lsh") {
        graft.operators.Dedup.minhashLshOn(exSh, oracleHash) }
      // the probe shares the SAME persisted frame (r16): it previously
      // re-shingled the corpus on its own three streaming passes (probe
      // slice, gram restriction, verify slice) even though the identical
      // arrays sat in the block store for the two arms above
      val probePairs = described("neardup_keepbest/probe") {
        graft.operators.Dedup.containmentProbePairsOn(
            exSh, maxShingles = probeThr, knownProbeCount = probeCount) }
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      val pairs = lshPairs.select(col("doc_a"), col("doc_b"))
        .union(probePairs).distinct()
      // quality rides the corpus as a computed column (r16: the old
      // exact.join(quality, "doc_id") was a corpus⋈corpus SortMergeJoin
      // — a full survivor-relation shuffle on BOTH sides just to attach
      // a column that is a deterministic function of text); the keeper
      // ranking computes the same expression member-restricted
      // (dedupKeepBestBy: broadcast semi join below the projection)
      val withQ = exact.withColumn("quality", TextAnalysis.qualityCol)
      val deduped = stage("neardup_keepbest")(described("neardup_keepbest/keepbest") {
        DedupPipeline.dedupKeepBestBy(withQ, pairs, exact, TextAnalysis.qualityCol) })
      // released only AFTER the keep-best stage action (r17): both pair
      // arms checkpoint eagerly above, so nothing reads the shingle
      // cache past this point; a release before `pairs` is first
      // consumed would make any arm that stays lazy recompute every
      // shingle.
      exSh.unpersist(false)

      // exact-substring coverage arm — d_substring_dedup deployed as a
      // filter stage: per near-dup SURVIVOR, the duplicated-span
      // coverage (stride-1 40-char grams occurring ≥ 2 times among the
      // survivors, intervals merged) and a drop when covered chars
      // exceed half the doc. substringDedup's n_removed IS the merged
      // coverage and its output text length the residue, so the keep
      // condition is n_removed ≤ len(residue) — no second derivation.
      // Text is NOT rewritten here (the standalone entry is the
      // rewrite): a pipeline stage must keep the strictly-nested
      // doc_id-filter contract the attrition accounting builds on.
      val substred =
        if (!exactSubstr) deduped
        else stage("substr_keep")(
          deduped.join(
            graft.operators.Dedup.substringDedup(
              deduped.select(col("doc_id"), col("text")))
              .filter(col("n_removed") <= length(col("text")))
              .select("doc_id"),
            Seq("doc_id"), "left_semi"))

      // CCNet bucketing over the SURVIVOR corpus; tail tercile dropped.
      val ccKept = stage("ccnet_keep") {
        val cc = TextAnalysis.ccnetBuckets(substred.select(col("doc_id"), col("text")))
          .select(col("doc_id"), col("n_tokens"), col("surprisal"), col("bucket"))
        substred.join(cc.filter(col("bucket") =!= "tail"), "doc_id")
      }

      // model-quality filter arm — the FineWeb-Edu deployment of
      // t_quality_model as a pipeline stage with its own attrition
      // row. The classifier TRAINS on the url-deduped corpus, where
      // the gopher weak labels still carry both classes (training on
      // battery survivors would see only positives — every survivor
      // passed the gopher gate by construction), and SCORES the ccnet
      // survivors; the keep floor is the survivors' own bottom score
      // decile (the ccnet-cut convention: one exact-percentile scalar
      // reaches the filter as a literal; swap for a GK sketch at
      // 100 TB exactly as ccnetBuckets documents). Training cost is
      // the already-audited t_quality_model shape: 3 GD steps of two
      // map-side-combined hash aggregates each over the persisted
      // feature frame, a ≤32 KB weight pull per step.
      val bucketed =
        if (!modelQuality) ccKept
        else stage("model_keep") {
          // labels = membership in the (already checkpointed) gopher
          // stage — identical to re-running the battery over
          // urlDeduped (gophered ≡ urlDeduped ⋉ gopher-pass) without
          // paying the split/regex battery a second time
          val labels = urlDeduped.select(col("doc_id"))
            .join(gophered.select(col("doc_id"), lit(1.0).as("y")),
              Seq("doc_id"), "left")
            .select(col("doc_id"), coalesce(col("y"), lit(0.0)).as("y"))
          // fused fit+score (r17): the survivors' feature rows sit
          // verbatim in the training checkpoint (stages only filter by
          // doc_id), so scoring reads them via one id semi join instead
          // of re-tokenizing the survivor corpus — see
          // qualityModelFitScoreSubset. Eagerly materialized: the score
          // frame feeds the threshold aggregate AND the keep filter —
          // without the cut the scoring aggregate runs twice.
          val scored = TextAnalysis.qualityModelFitScoreSubset(
            urlDeduped.select(col("doc_id"), col("text")), labels,
            ccKept.select(col("doc_id")), lastCount)
            // lazy (r17, the stage() fusion): the threshold aggregate
            // below is the first action and a FULL scan, so it
            // materializes the checkpoint itself — one job, not two
            .localCheckpoint(false)
          // keep floor: the survivors' bottom score decile, derived by
          // the SAME integer-rank arithmetic as the probe threshold —
          // never a float quantile's interpolation cross-engine. The
          // cumulative count runs over DISTINCT round(6) scores, a
          // relation bounded at 10^6 rows whatever the corpus size.
          val need = (lastCount + 9L) / 10L
          val wCum = Window.orderBy("score")
          val thrRow = scored
            .groupBy("score").agg(count(lit(1)).as("c"))
            .withColumn("cum", sum("c").over(wCum))
            .filter(col("cum") >= need)
            .agg(min("score")).head()
          val thr = if (thrRow.isNullAt(0)) Double.NegativeInfinity
                    else thrRow.getDouble(0)
          ccKept.join(scored.filter(col("score") > lit(thr)).select("doc_id"),
            Seq("doc_id"), "left_semi")
        }

      // benchmark-decontamination arm — flag-and-drop at
      // exact-substring strength: any survivor whose text contains a
      // 40-char span present anywhere in the eval set drops, with its
      // own attrition row. Marking is the rolling-hash prefilter +
      // exact-confirm pass (contaminatedPositions — the eval gram and
      // hash sets broadcast, the corpus text never shuffles), reduced
      // to a DISTINCT doc_id set for the anti join; the scrub REWRITE
      // stays the standalone entry because a rewriting stage would
      // break the strictly-nested stage contract.
      val decontamed = decontaminateEval match {
        case None => bucketed
        case Some(ev) =>
          stage("decontam_keep")(
            bucketed.join(
              graft.operators.Dedup.contaminatedPositions(
                bucketed.select(col("doc_id"), col("text")), ev)
                .select("doc_id").distinct(),
              Seq("doc_id"), "left_anti"))
      }

      // deterministic split + packing plan — prepare()'s tail. Bin
      // budgets are whitespace n_tokens by default (the gate oracle's
      // arithmetic) or REAL tokenizer tokens under packByBpe: the BPE
      // vocabulary trains on the SURVIVOR corpus (the tokens the model
      // will actually see), the rank table broadcasts in the encode
      // closure, and only the bin arithmetic changes — packing drops
      // nothing either way. The bucket count derives from the ccnet
      // survivor count.
      val (tokened, tokens) =
        if (!packByBpe) (decontamed, col("n_tokens"))
        else {
          val ranks = described("final")(graft.functions.BpeTokenizer.rankTable(
            TextAnalysis.learnBpeFrom(decontamed.select(col("doc_id"), col("text")))))
          (decontamed.join(
            TextAnalysis.bpeEncoded(decontamed.select(col("doc_id"), col("text")), ranks)
              .select(col("doc_id"), col("n_bpe_tokens").as("pack_tokens")),
            "doc_id"), col("pack_tokens"))
        }
      val packed = splitAndPack(tokened, tokens, binTokens, lastCount).drop("pack_tokens")
      // AQE runs the window's shuffle stage already at localCheckpoint
      val out = described("final")(packed.localCheckpoint(false))
      stages += "final" -> described("final")(out.count())
      PreparedWeb(out, pairs, stages.result())
    }
  }
}
