package graft.operators

import graft.Tables
import graft.streaming.{EventsStreaming, RawEvent}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Entries exercising the Structured Streaming pipelines end to end.
  * Each stream entry builds its stream plan and hands it to [[drain]],
  * which runs it once to completion (AvailableNow trigger → memory sink)
  * and returns the memory table; the entry then orders, windows or
  * limits that table as its batch twin does. `st_upsert_apply` writes
  * through foreachBatch instead and shares only the wait
  * ([[awaitOrStop]]); `st_sessionize` is the batch fold of the
  * streaming sessionizer and runs no stream.
  *
  * A stream gets [[DrainTimeoutMs]] to finish. `awaitTermination`
  * returns false, not an exception, when that runs out; a partial memory
  * table would hash-compare nondeterministically, so the entry fails
  * naming itself, and the query is stopped first so a stuck stream does
  * not keep running beside every later query of the session.
  */
object Streaming extends QueryModule {

  /** How long a registry stream may take to run to completion. */
  private val DrainTimeoutMs = 300000L

  /** Runs `stream` to completion into a memory table under the output
    * `mode` and returns that table; the query is named after `entry`.
    */
  private def drain(stream: Dataset[_], entry: String, mode: String = "append"): DataFrame = {
    val name = s"${entry}_${System.nanoTime()}"
    val q = stream.writeStream.format("memory").queryName(name).outputMode(mode)
      .trigger(Trigger.AvailableNow()).start()
    awaitOrStop(q, entry)
    stream.sparkSession.table(name)
  }

  private def awaitOrStop(q: StreamingQuery, entry: String): Unit =
    stopUnlessDone(q, entry, q.awaitTermination(DrainTimeoutMs))

  /** After the wait: a query that is not `done` is stopped, then `entry`
    * fails with a message naming it.
    */
  private[graft] def stopUnlessDone(q: StreamingQuery, entry: String, done: Boolean): Unit =
    if (!done) {
      q.stop()
      throw new IllegalStateException(
        s"$entry timed out: its stream did not finish within ${DrainTimeoutMs / 1000} s and was stopped")
    }

  /** The eval/benchmark stride-1 gram set pulled to the driver for the
    * streaming decontamination kernels (scrub + drop) — an EXPLICIT
    * bounded decision (r17): the stateless per-partition kernel
    * consumes a Scala set riding the closure, so there is no
    * distributed fallback — past [[Bounded.Rows]] grams the pull
    * REFUSES loudly instead of silently OOMing the driver. Eval sets
    * are benchmarks, not corpora, so the bound is generous; a
    * genuinely larger eval set belongs on the batch anti-join path.
    */
  private def evalGramSet(d: org.apache.spark.sql.DataFrame): Set[String] = {
    import d.sparkSession.implicits._
    val (grams, m) = Bounded.measure(d.filter(col("doc_id") % 97 === 0)
      .filter(length(col("text")) >= 40)
      .select(explode(expr(graft.operators.Dedup.strideGramArrayExpr(40))).as("gram"))
      .distinct(), count(lit(1)))
    val n = m.getLong(0)
    require(n <= Bounded.Rows,
      s"eval gram set ($n grams) exceeds the 4M driver-set bound " +
        "(SCALE.md: streaming decontamination) — scrub on the batch path")
    grams.as[String].collect().toSet
  }

  override def entries: Seq[QueryDef] = Seq(
    QueryDef(
      "st_windowed_agg",
      (s, dir) => {
        val stream = EventsStreaming.windowedAgg(EventsStreaming.readEventStream(s, dir))
        // epoch-micros projection at the gate boundary only (the driver
        // compares parquet dtypes bit-for-bit and Spark writes tz-adjusted
        // timestamps, DuckDB literal TIMESTAMPs — same convention as
        // st_stats_moments' window_us)
        drain(stream, "st_windowed_agg", "complete")
          .select(unix_micros(col("window_start")).as("window_us"),
                  col("event_type"), col("n_events"), col("total_value"))
          .orderBy("window_us", "event_type")
      },
      // ORACLED: AvailableNow delivers everything in one pass and the
      // hourly windows are complete-mode, so the stream result IS the
      // batch hourly rollup — DuckDB checks it exactly
      Some("""SELECT EPOCH_US(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS window_us,
             |event_type, COUNT(*) AS n_events,
             |CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))),2) AS DOUBLE) AS total_value
             |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    ),
    QueryDef(
      "st_sessionize",
      (s, dir) => {
        import s.implicits._
        // Batch twin of the streaming sessionizer: same fold, no state
        // (all data present ⇒ every session closes). The streaming path
        // (EventsStreaming.sessionize, watermark + EventTimeTimeout) is
        // exercised by StreamingSpec over a multi-micro-batch MemoryStream.
        val events = Tables(s, dir).events
          .select("event_id", "ts", "user_id", "event_type", "value").as[RawEvent]
        EventsStreaming.sessionizeBatch(events, 6L * 3600 * 1000000)
          .toDF()
          .orderBy("user_id", "session_id")
      },
      // ORACLED with q_sessionize's own SQL: the typed fold and the
      // lag/cumsum window derivation must land on identical sessions,
      // ids, bounds, and money sums — cross-implementation AND
      // cross-engine in one hash
      Some(Windowed.SessionizeSql),
    ),
    // streaming second-moment stats — ORACLED like st_click_attribution:
    // power sums (n, Σx, Σx²) are the mergeable form of variance, so the
    // complete-mode streaming aggregation over AvailableNow equals the
    // batch aggregation exactly and DuckDB can hash-check it. The same
    // property is what makes the aggregation restartable mid-stream on a
    // real feed (partial windows resume from exact state).
    QueryDef(
      "st_stats_moments",
      (s, dir) => {
        val stream = EventsStreaming.windowedMoments(EventsStreaming.readEventStream(s, dir))
        drain(stream, "st_stats_moments", "complete").orderBy("window_us", "event_type")
      },
      Some("""WITH s AS (SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx2
             |  FROM events GROUP BY 1, 2)
             |SELECT EPOCH_US(CAST(day AS TIMESTAMP)) AS window_us, event_type, n,
             |sx / CAST(n AS DOUBLE) AS mean_value,
             |CASE WHEN n > 1
             |THEN (sx2 - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)
             |ELSE CAST(NULL AS DOUBLE) END AS var_value
             |FROM s ORDER BY 1, 2""".stripMargin),
    ),
    // streaming-maintained quantile sketch (the st twin of
    // q_quantile_sketch_rollup): the stream maintains per-day histogram
    // bin counts — one count per (window, bin) of state, trivially
    // mergeable, order-insensitive — and quantiles derive from the
    // sketch-sized sink afterwards, exactly as they would against the
    // materialized sketch table on a cluster. ORACLED: AvailableNow
    // complete-mode counts ≡ the batch histogram, so DuckDB checks the
    // whole path end to end.
    QueryDef(
      "st_quantile_sketch",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import HistogramSketch.est
        val stream = EventsStreaming.windowedHistogram(EventsStreaming.readEventStream(s, dir))
        val cum = drain(stream, "st_quantile_sketch", "complete")
          .withColumn("cum", sum("c").over(
            Window.partitionBy("window_us").orderBy("bin")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("n", sum("c").over(Window.partitionBy("window_us")))
        cum.groupBy("window_us")
          .agg(est(0.5).as("q50_est"), est(0.9).as("q90_est"), max(col("n")).as("n"))
          .orderBy("window_us")
      },
      Some("""WITH sk AS (SELECT EPOCH_US(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS window_us,
             |  CAST(LEAST(GREATEST(FLOOR(value / 1024.0 * 4096), 0), 4095) AS INT) AS bin,
             |  COUNT(*) AS c FROM events GROUP BY 1, 2),
             |cum AS (SELECT window_us, bin,
             |  SUM(c) OVER (PARTITION BY window_us ORDER BY bin) AS cum,
             |  SUM(c) OVER (PARTITION BY window_us) AS n FROM sk)
             |SELECT window_us,
             |CAST(MIN(CASE WHEN CAST(cum AS DOUBLE) >= 0.5*CAST(n AS DOUBLE) THEN bin END) + 1 AS DOUBLE)*0.25 AS q50_est,
             |CAST(MIN(CASE WHEN CAST(cum AS DOUBLE) >= 0.9*CAST(n AS DOUBLE) THEN bin END) + 1 AS DOUBLE)*0.25 AS q90_est,
             |CAST(MAX(n) AS BIGINT) AS n
             |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin),
    ),
    // streaming Misra-Gries heavy hitters (the t_heavy_hitters twin):
    // the k-counter summary is the ENTIRE streaming state — bounded
    // regardless of vocabulary or stream length — and merges across
    // micro-batches by the same mergeable-summaries math as the batch
    // partial aggregate, so the frequency-floor guarantee survives
    // arbitrary batch boundaries (StreamingSpec pins it across a
    // multi-batch MemoryStream against exact counts). Rows-only:
    // which sub-floor terms survive is summary-order-dependent by
    // design, as with the batch entry.
    QueryDef(
      "st_heavy_hitters",
      (s, dir) => {
        val stream = graft.streaming.CorpusStreaming.heavyHitters(
          graft.streaming.CorpusStreaming.readDocumentStream(s, dir))
        drain(stream, "st_heavy_hitters", "complete")
          .orderBy(desc("est_count"), asc("term")).limit(20)
      },
      Some(graft.api.ParseSnapshots.sfPinnedSql("st_heavy_hitters")),
    ),
    // streaming exact dedup (the d_dedup_exact twin): first copy of each
    // text admitted, later copies dropped while their hash is inside the
    // watermark window. Output is the admitted hash set — deterministic
    // even though WHICH duplicate row survives a race is not.
    QueryDef(
      "st_dedup_exact",
      (s, dir) => {
        val docs = graft.streaming.CorpusStreaming.readDocumentStream(s, dir)
          // documents carry no event time; a deterministic pseudo-arrival
          // keeps the gate output stable (real feeds carry ingest time).
          // Offset past epoch 0: a row AT the initial watermark (0) would
          // be discarded as late by the stateful dedup.
          .withColumn("ts", expr("timestamp_micros((doc_id + 86400) * 1000000)"))
        val stream = graft.streaming.CorpusStreaming.dedupExact(docs)
          .select(col("text_hash"))
        drain(stream, "st_dedup_exact").orderBy("text_hash")
      },
      // ORACLED: the admitted set after a single AvailableNow pass is
      // exactly the distinct hash set (which copy survives is racy;
      // the SET is not) — DuckDB's md5 matches Spark's hex form
      Some("SELECT DISTINCT md5(text) AS text_hash FROM documents ORDER BY 1"),
    ),
    // watermarked stream-stream interval join (click→view attribution).
    // ORACLED, unlike the other streaming entries: AvailableNow delivers
    // the whole file in one micro-batch and an inner interval join emits
    // every matched pair, so the streaming result IS the batch join —
    // DuckDB can check it exactly. Cross-micro-batch behavior (buffered
    // state, watermark eviction) is StreamJoinSpec's job.
    QueryDef(
      "st_click_attribution",
      (s, dir) => {
        val stream = EventsStreaming.attributeClicks(EventsStreaming.readEventStream(s, dir))
        drain(stream, "st_click_attribution").orderBy("user_id", "view_id", "click_id")
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |  EPOCH_US(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
             |v AS (SELECT user_id, event_id AS view_id, ts_us AS v_us FROM e
             |  WHERE event_type = 'view'),
             |c AS (SELECT user_id, event_id AS click_id, ts_us AS c_us FROM e
             |  WHERE event_type = 'click')
             |SELECT user_id, view_id, click_id, c_us - v_us AS lag_us
             |FROM v JOIN c USING (user_id)
             |WHERE v_us <= c_us AND v_us >= c_us - 1800000000
             |ORDER BY user_id, view_id, click_id""".stripMargin),
    ),
    // stream-static broadcast enrichment: events join the static
    // weight dimension per micro-batch — stateless, stream side never
    // shuffles; StreamingSpec pins row-for-row parity with the batch
    // twin join
    QueryDef(
      "st_static_enrich",
      (s, dir) => {
        val stream = EventsStreaming.enrichWithWeights(
            EventsStreaming.readEventStream(s, dir), EventsStreaming.typeWeights(s))
        drain(stream, "st_static_enrich").orderBy("event_id")
      },
      // ORACLED: the stream-static broadcast join is stateless, so one
      // AvailableNow pass equals the batch join row for row; the weight
      // table is inlined as a CASE (same 5 types, decimal-exact math)
      Some("""SELECT event_id, event_type, user_id,
             |CAST(CAST(value AS DECIMAL(18,2)) * CAST(CASE event_type
             |  WHEN 'click' THEN 1.0 WHEN 'view' THEN 0.5 WHEN 'purchase' THEN 5.0
             |  WHEN 'signup' THEN 2.0 ELSE 0.0 END AS DECIMAL(3,1)) AS DOUBLE) AS weighted_value
             |FROM events ORDER BY event_id""".stripMargin),
    ),
    // all-time streaming dedup guard: a Bloom filter over the STORED
    // corpus slice (doc_id % 10 < 3 stands in for the historical table)
    // drops re-arriving fingerprints from the stream with fixed memory
    // and no state store. Deterministic (fixed-seed hashes) so the gate
    // output is stable; CorpusStreamingSpec pins the containment
    // properties (no true duplicate admitted; drops ⊆ FP bound).
    QueryDef(
      "st_bloom_guard",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val fp = graft.functions.TextFp.bagOfWords(col("text"))
        val hist = d.filter(col("doc_id") % 10 < 3).select(fp.as("fp")).distinct()
        val bits = graft.functions.BloomFilter.build(hist, col("fp"), numWords = 2048, k = 5)
        val stream = graft.streaming.CorpusStreaming.readDocumentStream(s, dir)
          .filter(col("doc_id") % 10 >= 3)
        val guarded = graft.streaming.CorpusStreaming.bloomGuard(stream, bits, k = 5)
          .select(col("doc_id"))
        drain(guarded, "st_bloom_guard").orderBy("doc_id")
      },
      Some(graft.api.ParseSnapshots.sfPinnedSql("st_bloom_guard")),
    ),
    // streaming k-means assignment: offline-fit centroids as plan
    // literals (the ccnetHashedModel deployment split applied to
    // s_kmeans_clusters), arriving vectors assign in one stateless
    // per-row fold — carries the batch entry's full Lloyd-recompute
    // oracle, so the STREAM assignment is itself hash-gated; batch
    // row parity is CorpusStreamingSpec's pin.
    QueryDef(
      "st_kmeans_assign",
      (s, dir) => {
        val cents = Similarity.kmeansCentroids(
          Tables(s, dir).embeddings.select(col("vec_id"), col("embedding")))
        val stream = graft.streaming.CorpusStreaming
          .kmeansAssign(graft.streaming.CorpusStreaming.readEmbeddingStream(s, dir), cents)
        drain(stream, "st_kmeans_assign").orderBy("vec_id")
      },
      Some(Similarity.KmeansSql),
    ),
    // streaming ANN-index maintenance: SRP band assignment as a
    // stateless streaming projection (signatures are pure functions of
    // the vector — no state store, no watermark). The batch twin is the
    // same SrpLsh.bandedSignatures call; CorpusStreamingSpec pins
    // stream/batch parity row for row.
    QueryDef(
      "st_srp_bucketize",
      (s, dir) => {
        val stream = graft.streaming.CorpusStreaming
          .srpBucketize(graft.streaming.CorpusStreaming.readEmbeddingStream(s, dir),
                        dim = 64, nbits = 16, bandBits = 8)
        drain(stream, "st_srp_bucketize").orderBy("vec_id", "band_i")
      },
      Some(graft.api.ParseSnapshots.sfPinnedSql("st_srp_bucketize")),
    ),
    // streaming TEXT-LSH index maintenance: minhash band assignment as
    // a stateless streaming projection (per-row lambdas — no state
    // store, no watermark), the text twin of st_srp_bucketize. The
    // appended (doc_id, j, mh) rows keep the batch dedup's candidate
    // join incremental; CorpusStreamingSpec pins stream/batch signature
    // parity row for row.
    QueryDef(
      "st_minhash_bucketize",
      (s, dir) => {
        val stream = graft.streaming.CorpusStreaming
          .minhashBucketize(graft.streaming.CorpusStreaming.readDocumentStream(s, dir))
        drain(stream, "st_minhash_bucketize").orderBy("doc_id", "j")
      },
      Some(graft.api.ParseSnapshots.sfPinnedSql("st_minhash_bucketize")),
    ),
    // streaming document chunking: the RAG/packing splitter as a
    // stateless projection over the document stream — the literal
    // batch t_chunk_overlap plan (shared code), so stream rows equal
    // batch rows by construction; StreamingSpec-style parity is pinned
    // in CorpusStreamingSpec
    QueryDef(
      "st_chunk_overlap",
      (s, dir) => {
        val stream = graft.streaming.CorpusStreaming
          .chunkOverlap(graft.streaming.CorpusStreaming.readDocumentStream(s, dir))
        drain(stream, "st_chunk_overlap").orderBy("doc_id", "chunk_id")
      },
      // oracled like the other streaming twins: the stream must match
      // the same DuckDB SQL the batch entry matches
      Some(graft.operators.TextAnalysis.ChunkOverlapSql),
    ),
    // streaming winnowing-fingerprint extraction: the exact-substring
    // dedup index maintained incrementally — each arriving document's
    // selected (doc_id, gram) fingerprints as a stateless projection
    // (shared batch code; see CorpusStreaming.winnowBucketize). The
    // oracle recomputes the selection in DuckDB from the same CTEs the
    // batch d_winnow_dedup oracle uses, so the stream output is
    // independently hash-gated, not just parity-pinned.
    QueryDef(
      "st_winnow_bucketize",
      (s, dir) => {
        val stream = graft.streaming.CorpusStreaming
          .winnowBucketize(graft.streaming.CorpusStreaming.readDocumentStream(s, dir))
        drain(stream, "st_winnow_bucketize").orderBy("doc_id", "gram")
      },
      Some(s"""WITH ${graft.operators.Dedup.WinnowFpCtes}
             |SELECT doc_id, gram FROM fp
             |ORDER BY doc_id, gram""".stripMargin),
    ),
    // streaming BPE tokenize: train OFFLINE (the batch word-histogram
    // trainer), apply ON THE STREAM — the rank table rides the closure
    // as a broadcast constant and every arriving document tokenizes
    // statelessly (no state store, no watermark). Shares the batch
    // projection AND the batch entry's snapshot oracle, so the stream
    // output is itself hash-gated to equal t_bpe_encode row-for-row.
    QueryDef(
      "st_bpe_encode",
      (s, dir) => {
        val ranks = graft.functions.BpeTokenizer.rankTable(
          graft.operators.TextAnalysis.learnBpe(graft.Tables(s, dir)))
        val stream = graft.operators.TextAnalysis
          .bpeEncoded(graft.streaming.CorpusStreaming.readDocumentStream(s, dir), ranks)
        drain(stream, "st_bpe_encode").orderBy("doc_id")
      },
      Some(graft.api.ParseSnapshots.sfPinnedSql("t_bpe_encode")),
    ),
    // streaming DSIR scoring: fit the hashed-bucket importance model
    // OFFLINE (the same aggregates as t_dsir_weight), score ON THE
    // STREAM — the 4096-slot log-ratio table rides the plan as an
    // array literal and every arriving document scores statelessly
    // (no state store, no watermark). Shares the batch entry's DuckDB
    // oracle, so the stream output is itself hash-gated to equal
    // t_dsir_weight row-for-row, not just parity-pinned.
    QueryDef(
      "st_dsir_score",
      (s, dir) => {
        val lr = graft.operators.TextAnalysis
          .dsirModelLogRatios(Tables(s, dir).documents)
        val stream = graft.streaming.CorpusStreaming
          .dsirScore(graft.streaming.CorpusStreaming.readDocumentStream(s, dir), lr)
        drain(stream, "st_dsir_score").orderBy("doc_id")
      },
      Some(s"${graft.operators.TextAnalysis.DsirWeightSqlCore}\nORDER BY doc_id"),
    ),
    // streaming CCNet scoring — the dsirScore deployment split applied
    // to the quality partition: hashed-bucket counts + tercile cuts fit
    // OFFLINE (CCNet scores with a fixed LM; the bounded hashed table
    // is that shape), every arriving document scores and buckets
    // statelessly against the literals. The oracle recomputes the
    // hashed model, per-doc surprisal, and cuts independently, so the
    // STREAM output is itself hash-gated.
    QueryDef(
      "st_ccnet_score",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val (counts, total) = graft.operators.TextAnalysis.ccnetHashedModel(docs)
        val cuts = graft.streaming.CorpusStreaming
          .ccnetHashedSurprisal(docs, counts, total)
          .agg(expr("percentile(surprisal, 1.0D/3)"),
               expr("percentile(surprisal, 2.0D/3)")).head()
        val stream = graft.streaming.CorpusStreaming
          .ccnetScore(graft.streaming.CorpusStreaming.readDocumentStream(s, dir),
            counts, total, cuts.getDouble(0), cuts.getDouble(1))
        drain(stream, "st_ccnet_score").orderBy("doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id,
             |  unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
             |  FROM documents),
             |b AS (SELECT doc_id, substring(md5(term), 1, 3) AS b FROM tk),
             |cnt AS (SELECT b, COUNT(*) AS c FROM b GROUP BY 1),
             |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt),
             |scored AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |  ROUND(SUM(-log2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) / COUNT(*), 4) AS surprisal
             |  FROM b JOIN cnt USING (b) CROSS JOIN tot GROUP BY doc_id),
             |cuts AS (SELECT quantile_cont(surprisal, 1.0/3) AS c1,
             |  quantile_cont(surprisal, 2.0/3) AS c2 FROM scored)
             |SELECT doc_id, n_tokens, surprisal,
             |ROUND(c1, 4) AS cut_head, ROUND(c2, 4) AS cut_tail,
             |CASE WHEN surprisal <= c1 THEN 'head'
             |     WHEN surprisal <= c2 THEN 'middle' ELSE 'tail' END AS bucket
             |FROM scored CROSS JOIN cuts ORDER BY doc_id""".stripMargin),
    ),
    // streaming model-quality scoring — the st_ccnet_score deployment
    // split applied to t_quality_model: the logistic classifier fits
    // OFFLINE (the batch 3-step GD trainer), its ≤4098-slot weight
    // table rides the plan as literals, and every arriving document
    // scores + weak-labels statelessly (no state store, no
    // watermark). Shares the batch entry's full training-recomputation
    // oracle, so the STREAM output is itself hash-gated row-for-row
    // to the independently recomputed training.
    QueryDef(
      "st_quality_model",
      (s, dir) => {
        val w = graft.operators.TextAnalysis
          .qualityModelWeights(Tables(s, dir).documents)
        val stream = graft.streaming.CorpusStreaming
          .qualityModelScore(graft.streaming.CorpusStreaming.readDocumentStream(s, dir), w)
        drain(stream, "st_quality_model").orderBy("doc_id")
      },
      Some(graft.operators.TextAnalysis.QualityModelSql),
    ),
    // streaming decontamination scrub — the guard in FRONT of the
    // training pipe: the eval/benchmark gram set fits offline (batch,
    // bounded — benchmarks, not corpora) and rides as a broadcast;
    // every arriving doc excises its leaked eval spans statelessly
    // (per-partition hash-set kernel, no state store, no watermark).
    // An eval doc arriving in the stream self-scrubs to empty. The
    // oracle recomputes the whole scrub in SQL (eval grams → marking →
    // islands merge → reassembly) over the same table, so the STREAM
    // text rebuild is hash-gated character-for-character; batch parity
    // vs Dedup.decontaminateScrub is CorpusStreamingSpec's pin.
    QueryDef(
      "st_decontaminate_scrub",
      (s, dir) => {
        val evalGrams = evalGramSet(Tables(s, dir).documents)
        val stream = graft.streaming.CorpusStreaming
          .decontaminateScrub(
            graft.streaming.CorpusStreaming.readDocumentStream(s, dir), evalGrams)
        drain(stream, "st_decontaminate_scrub").orderBy("doc_id")
      },
      Some(s"""WITH ev AS (SELECT text FROM documents
              |  WHERE doc_id % 97 = 0 AND len(text) >= 40),
              |ep AS (SELECT text, unnest(generate_series(0, len(text) - 40)) AS pos FROM ev),
              |eg AS (SELECT DISTINCT substr(text, pos + 1, 40) AS gram FROM ep),
              |p AS (SELECT doc_id, text, unnest(generate_series(0, len(text) - 40)) AS pos
              |      FROM documents WHERE len(text) >= 40),
              |gr AS (SELECT doc_id, pos, substr(text, pos + 1, 40) AS gram FROM p),
              |mk AS (SELECT gr.doc_id, gr.pos FROM gr SEMI JOIN eg USING (gram)),
              |${Dedup.spanIslandsSql("mk")},
              |${Dedup.spanRebuildSql("documents")}
              |SELECT d.doc_id, COALESCE(r.text, d.text) AS text,
              |  CAST(len(d.text) - len(COALESCE(r.text, d.text)) AS BIGINT) AS n_removed
              |FROM documents d LEFT JOIN reb r USING (doc_id)
              |ORDER BY doc_id""".stripMargin),
    ),
    // streaming decontamination DROP — the flag-and-drop twin of the
    // scrub above, closing the arm symmetry with the batch pipe:
    // prepareWeb's decontam_keep arm flag-drops, so the stream pipe
    // gets the same guard (eval gram set broadcast, arriving doc drops
    // if ANY stride-1 gram matches — short-circuiting on the first
    // hit, stateless, no state store). The oracle recomputes the
    // batch-shaped anti join (eval grams → marked DISTINCT doc_ids →
    // drop) in SQL, so the survivor set is hash-gated row-for-row;
    // parity vs the batch contaminatedPositions anti join is
    // CorpusStreamingSpec's pin.
    QueryDef(
      "st_decontaminate_drop",
      (s, dir) => {
        val evalGrams = evalGramSet(Tables(s, dir).documents)
        val stream = graft.streaming.CorpusStreaming
          .decontaminateDrop(
            graft.streaming.CorpusStreaming.readDocumentStream(s, dir), evalGrams)
        drain(stream, "st_decontaminate_drop").orderBy("doc_id")
      },
      Some("""WITH ev AS (SELECT text FROM documents
             |  WHERE doc_id % 97 = 0 AND len(text) >= 40),
             |ep AS (SELECT text, unnest(generate_series(0, len(text) - 40)) AS pos FROM ev),
             |eg AS (SELECT DISTINCT substr(text, pos + 1, 40) AS gram FROM ep),
             |p AS (SELECT doc_id, text, unnest(generate_series(0, len(text) - 40)) AS pos
             |      FROM documents WHERE len(text) >= 40),
             |gr AS (SELECT doc_id, substr(text, pos + 1, 40) AS gram FROM p),
             |mk AS (SELECT DISTINCT doc_id FROM gr SEMI JOIN eg USING (gram))
             |SELECT d.doc_id, d.text FROM documents d ANTI JOIN mk USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
    ),
    // streaming Gopher A1.2 repetition battery: the batch
    // t_gopher_repetition typed mapPartitions (shared code — per-doc
    // hash-count + position-mark loops are row-local, so the map is
    // stateless on a stream: no state store, no watermark), hash-gated
    // to the batch entry's own set-based DuckDB oracle.
    QueryDef(
      "st_gopher_repetition",
      (s, dir) => {
        val stream = graft.operators.TextAnalysis
          .gopherRepetition(graft.streaming.CorpusStreaming.readDocumentStream(s, dir))
        drain(stream, "st_gopher_repetition").orderBy("doc_id")
      },
      Some(graft.operators.TextAnalysis.GopherRepetitionSql),
    ),
    // streaming Gopher quality rules: arriving documents score as a
    // stateless per-row map (the literal batch t_gopher_rules
    // projection — shared code, no state store, no watermark),
    // carrying the batch entry's own DuckDB oracle so the STREAM
    // output is itself hash-gated row-for-row.
    QueryDef(
      "st_gopher_rules",
      (s, dir) => {
        val stream = graft.operators.TextAnalysis
          .gopherRules(graft.streaming.CorpusStreaming.readDocumentStream(s, dir))
        drain(stream, "st_gopher_rules").orderBy("doc_id")
      },
      Some(s"${graft.operators.TextAnalysis.GopherRulesSql}\nORDER BY doc_id"),
    ),
    // streaming C4 structural filter: same shape as st_gopher_rules —
    // a stateless per-row map sharing the batch t_c4_rules projection
    // and its closed-form DuckDB oracle, so the STREAM output is
    // hash-gated to equal the batch row-for-row.
    QueryDef(
      "st_c4_rules",
      (s, dir) => {
        val stream = graft.operators.TextAnalysis
          .c4Rules(graft.operators.TextAnalysis.c4PageTable(
            graft.streaming.CorpusStreaming.readDocumentStream(s, dir)))
        drain(stream, "st_c4_rules").orderBy("doc_id")
      },
      Some(s"${graft.operators.TextAnalysis.C4RulesSql}\nORDER BY doc_id"),
    ),
    // streaming FineWeb filter: same shape as st_gopher_rules /
    // st_c4_rules — a stateless per-row map sharing the batch
    // t_fineweb_rules projection and its closed-form DuckDB oracle.
    QueryDef(
      "st_fineweb_rules",
      (s, dir) => {
        val stream = graft.operators.TextAnalysis
          .finewebRules(graft.operators.TextAnalysis.fwPageTable(
            graft.streaming.CorpusStreaming.readDocumentStream(s, dir)))
        drain(stream, "st_fineweb_rules").orderBy("doc_id")
      },
      Some(s"${graft.operators.TextAnalysis.FinewebRulesSql}\nORDER BY doc_id"),
    ),
    // streaming radius retrieval: arriving vectors score against the
    // broadcast query batch with the threshold applied BEFORE the sink
    // — a stateless stream-static broadcast join (no state store, no
    // watermark), the continuous-monitoring twin of s_range_search
    // (e.g. "alert when a crawl embedding lands near a benchmark
    // vector"). Shares the batch projection and oracle, so the STREAM
    // output is itself hash-gated.
    QueryDef(
      "st_range_search",
      (s, dir) => {
        val queries = graft.operators.Similarity.queryBatch(Tables(s, dir).embeddings, 10)
        val stream = graft.operators.Similarity
          .rangeSearch(
            graft.streaming.CorpusStreaming.readEmbeddingStream(s, dir)
              .select(col("vec_id"), col("embedding")),
            queries, 0.35)
        drain(stream, "st_range_search").orderBy("q_id", "vec_id")
      },
      Some(graft.operators.Similarity.RangeSearchSql),
    ),
    // streaming HTML boilerplate removal: arriving pages become clean
    // text as a stateless per-row map (the literal batch t_html_extract
    // projection — shared code), carrying the batch entry's own DuckDB
    // oracle so the STREAM output is itself hash-gated.
    QueryDef(
      "st_html_extract",
      (s, dir) => {
        val stream = graft.operators.TextAnalysis
          .htmlExtracted(graft.streaming.CorpusStreaming.readDocumentStream(s, dir))
        drain(stream, "st_html_extract").orderBy("doc_id")
      },
      Some(graft.operators.TextAnalysis.HtmlExtractSql),
    ),
    // continuous CRAWL ingestion: .warc.gz files stream from the drop
    // directory (Common Crawl's shipping form, one gzip member per
    // record) and every record
    // flows WARC -> HTTP -> HTML -> text statelessly; shares
    // p_warc_extract's closed-form oracle, so the STREAM output is
    // itself hash-gated end to end.
    QueryDef(
      "st_warc_extract",
      (s, dir) => {
        val drop = s"/tmp/graft_warc_drop/${new java.io.File(dir).getName}"
        graft.streaming.MediaIntake.materializeWarcDir(
          graft.operators.TextAnalysis.warcBlobs(Tables(s, dir).documents,
            gz = true), drop, graft.ScaleDemo.baseFingerprint(dir))
        val stream = graft.streaming.MediaIntake.warcStream(s, drop)
        drain(stream, "st_warc_extract").orderBy("doc_id")
      },
      Some(graft.operators.TextAnalysis.WarcExtractSql),
    ),
    // continuous MULTIMODAL intake: the media drop directory streamed
    // with binaryFile, EXIF extracted statelessly per arriving file
    // (streaming/MediaIntake — the image-side ReportFileIntake).
    // Shares m_exif_meta's closed-form oracle, so the STREAM output is
    // itself hash-gated field-for-field.
    QueryDef(
      "st_exif_meta",
      (s, dir) => {
        val drop = s"/tmp/graft_media_drop/${new java.io.File(dir).getName}"
        val t = Tables(s, dir)
        // expectedRows: exifTable is one row per document, and a plain
        // parquet count prunes to row-group metadata — the RDD-backed
        // media frame would pay full payload generation just to count
        graft.streaming.MediaIntake.materializeDropDir(
          graft.operators.Multimodal.exifTable(t), drop,
          expectedRows = t.documents.count())
        val stream = graft.streaming.MediaIntake.exifStream(s, drop)
        drain(stream, "st_exif_meta").orderBy("doc_id")
      },
      Some(graft.operators.Multimodal.exifOracle),
    ),
    // streaming robots decisions: the literal batch t_robots_rules
    // typed map over arriving documents (stateless, no state store,
    // no watermark), hash-gated to the batch entry's own oracle —
    // robots re-checks on a live crawl frontier
    QueryDef(
      "st_robots_rules",
      (s, dir) => {
        val stream = graft.operators.TextAnalysis
          .robotsDecisions(graft.streaming.CorpusStreaming.readDocumentStream(s, dir))
        drain(stream, "st_robots_rules").orderBy("doc_id")
      },
      Some(s"${graft.operators.TextAnalysis.RobotsRulesSql}"),
    ),
    // streaming URL canonicalization: the batch t_url_canonicalize
    // typed map on the stream — canonical keys minted the moment a
    // crawl record arrives, feeding the URL-dedup guard downstream
    QueryDef(
      "st_url_canonicalize",
      (s, dir) => {
        val stream = graft.operators.TextAnalysis
          .urlCanonicalize(graft.streaming.CorpusStreaming.readDocumentStream(s, dir))
        drain(stream, "st_url_canonicalize").orderBy("doc_id")
      },
      Some(s"${graft.operators.TextAnalysis.UrlCanonicalizeSql}"),
    ),
    // sitemaps.org parsing on the document STREAM: the batch
    // t_sitemap_urls typed flatMap (shared code, stateless per-row, no
    // state store, no watermark) discovering frontier URLs the moment
    // a sitemap arrives, hash-gated to the batch entry's own
    // closed-form oracle — the third crawl-gate stream twin beside
    // st_robots_rules and st_url_canonicalize
    QueryDef(
      "st_sitemap_urls",
      (s, dir) => {
        val stream = graft.operators.TextAnalysis
          .sitemapUrls(graft.streaming.CorpusStreaming.readDocumentStream(s, dir))
        drain(stream, "st_sitemap_urls").orderBy("doc_id", "entry_i")
      },
      Some(s"${graft.operators.TextAnalysis.SitemapUrlsSql}"),
    ),
    // continuous STILL-IMAGE intake: the m_tiff_pixels IFD walk applied
    // statelessly to .tiff files arriving in a MediaIntake drop
    // directory, carrying the batch entry's own closed-form oracle
    QueryDef(
      "st_tiff_pixels",
      (s, dir) => {
        val drop = s"/tmp/graft_tiff_drop/${new java.io.File(dir).getName}"
        val t = Tables(s, dir)
        graft.streaming.MediaIntake.materializeDropDir(
          graft.operators.Multimodal.tiffTable(t), drop, ext = "tiff",
          expectedRows = t.documents.count())
        val stream = graft.streaming.MediaIntake.tiffStream(s, drop)
        drain(stream, "st_tiff_pixels").orderBy("doc_id")
      },
      Some(graft.operators.Multimodal.pngPixelsOracle),
    ),
    // continuous AUDIO intake: the m_ogg_headers walk (verified page
    // CRCs + Vorbis ident/comment) applied statelessly to files
    // arriving in a drop directory — the audio arm of MediaIntake,
    // carrying the batch entry's own closed-form oracle
    QueryDef(
      "st_ogg_headers",
      (s, dir) => {
        val drop = s"/tmp/graft_ogg_drop/${new java.io.File(dir).getName}"
        val t = Tables(s, dir)
        graft.streaming.MediaIntake.materializeDropDir(
          graft.operators.Multimodal.oggTable(t), drop, ext = "ogg",
          expectedRows = t.documents.count())
        val stream = graft.streaming.MediaIntake.oggStream(s, drop)
        drain(stream, "st_ogg_headers").orderBy("doc_id")
      },
      Some(graft.operators.Multimodal.oggOracle),
    ),
    // continuous report-FILE intake (the IMAP-poll twin): binaryFile
    // stream over the sample corpus → executor-side parse → flattened
    // record rows, AvailableNow + memory sink for the gate
    QueryDef(
      "st_report_intake",
      (s, _) => {
        val stream = graft.streaming.ReportFileIntake
          .aggregateRecordStream(s, s"${DmarcIngest.samples(s)}/aggregate")
          .toDF()
          .select(col("report_id"), col("org_name"), col("source_ip_address"),
                  col("count"), col("disposition"), col("begin_date"))
        drain(stream, "st_report_intake").orderBy("report_id", "source_ip_address", "count")
      },
      // snapshot oracle (resource-backed, SF-independent sample corpus):
      // the streaming intake must flatten to the SAME records the batch
      // parser does — redelivery dedup included, since the snapshot has
      // no duplicates
      Some(graft.api.ParseSnapshots.resourceSql("st_report_intake")),
    ),
    // streaming CDC apply: a correction feed (5% of rows re-delivered
    // with fixed values) streams into foreachBatch, and each micro-batch
    // keyed-MERGEs into the day-partitioned serving table — the
    // ReplacingMergeTree-style convergence loop a continuously corrected
    // fact table runs, now as the streaming twin of w_upsert. ORACLED:
    // the converged table's daily rollup must equal DuckDB recomputing
    // the corrections from scratch — upsert-apply loses nothing and
    // double-applies nothing (idempotent on re-delivery by key). The
    // per-batch cost is O(touched partitions), so the loop holds at
    // 100 TB where "refresh the table" does not.
    QueryDef(
      "st_upsert_apply",
      (s, dir) => {
        import s.implicits._
        val table = java.nio.file.Files.createTempDirectory("graft-cdc").toString
        val e = Tables(s, dir).events
          .withColumn("day", date_format(col("ts"), "yyyyMMdd"))
        e.write.mode("overwrite").partitionBy("day").parquet(table)
        val corrections = EventsStreaming.readEventStream(s, dir)
          .filter(pmod(col("event_id"), lit(20)) === 0)
          .withColumn("value", col("value") + 1000.0)
          .withColumn("day", date_format(col("ts"), "yyyyMMdd"))
        val q = corrections.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            if (!batch.isEmpty) {
              graft.sources.Merge.upsertPartitioned(s, table, batch, "event_id", "day")
              ()
            }
          }
          .trigger(Trigger.AvailableNow())
          .start()
        awaitOrStop(q, "st_upsert_apply")
        val rows = s.read.parquet(table)
          .groupBy(col("day").cast("string").as("day"))
          .agg(count(lit(1)).as("n_events"),
               Det.moneySum(col("value")).as("total_value"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        val root = new org.apache.hadoop.fs.Path(table)
        root.getFileSystem(s.sparkContext.hadoopConfiguration).delete(root, true)
        rows.toSeq.toDF("day", "n_events", "total_value").orderBy("day")
      },
      Some("""SELECT strftime(CAST(ts AS DATE), '%Y%m%d') AS day,
             |COUNT(*) AS n_events,
             |CAST(ROUND(SUM(CAST(CASE WHEN event_id % 20 = 0
             |  THEN value + 1000.0 ELSE value END AS DECIMAL(18,2))),2) AS DOUBLE) AS total_value
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    ),
  )
}
