package graft.operators

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (Array[Float], dim 64).
  *
  * The Spark side scores with the native codegen'd `cosine_similarity`
  * expression (graft.plans.CosineSimilarity, registered via
  * SparkSessionExtensions) — no interpreted higher-order functions on
  * the hot path. Its arithmetic (sequential double left-fold,
  * dot / (sqrt(na)*sqrt(nb))) is bit-identical to the DuckDB oracle's
  * `list_reduce(list_transform(...))` formulation.
  *
  * Scale: queries broadcast against the corpus (corpus never shuffles);
  * top-k is a typed bounded-heap aggregator (TopKByScore) running as a
  * partial aggregate — the exchange carries ≤ k rows per query per
  * partition, never the full scored relation. The IVF variant prunes
  * the corpus to nprobe centroid buckets before scoring.
  */
object Similarity extends QueryModule {

  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, 64), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y)"

  // UNROUNDED on purpose: bit-identical doubles hash identically via
  // repr(), while round()ing a derived double at a display precision is
  // the documented cross-engine tie trap (Spark rounds the exact binary
  // expansion, DuckDB the scaled value) — and here the value feeds
  // top-k SELECTION and d_embedding_neardup's tau MEMBERSHIP, where a
  // one-ulp disagreement flips rows, not just digits.
  private[graft] val cos = "cosine_similarity(q_vec, embedding)"

  /** Shared radius-scoring projection (s_range_search / its streaming
    * twin): broadcast query batch against any vector frame — batch scan
    * or arriving stream — with the codegen'd cosine threshold applied
    * before anything crosses an exchange. No ordering (streams cannot
    * sort); batch callers add their own.
    */
  private[graft] def rangeSearch(vectors: org.apache.spark.sql.DataFrame,
                                 queries: org.apache.spark.sql.DataFrame,
                                 tau: Double): org.apache.spark.sql.DataFrame =
    vectors.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("cos", expr(cos))
      .filter(col("cos") >= tau)
      .select(col("q_id"), col("vec_id"), col("cos"))

  /** The shared radius-search oracle (s_range_search + st_range_search:
    * identical rows by construction — same projection, same threshold).
    */
  private[graft] val RangeSearchSql: String = {
    val dot = duckDot("q_vec", "embedding")
    s"""WITH c AS (SELECT vec_id, embedding,
       |  sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS q_vec, nrm AS q_nrm FROM c WHERE vec_id < 10)
       |SELECT q_id, vec_id,
       |$dot / (nrm * q_nrm) AS cos
       |FROM c, q WHERE vec_id <> q_id
       |  AND $dot / (nrm * q_nrm) >= 0.35
       |ORDER BY q_id, vec_id""".stripMargin
  }

  /** Local cosine with EXACTLY the native expression's arithmetic
    * (plans.CosineSimilarity: ascending double left-fold,
    * dot / (sqrt(na)*sqrt(nb))) — used by the MMR rerank's in-group
    * candidate-candidate similarities so the greedy argmax compares
    * the same doubles the oracle derives.
    */
  private def cosLocal(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998):
    * diversify a top-N candidate pool by greedily picking
    * argmax λ·rel(q,c) − (1−λ)·max_{s∈S} sim(c,s). The production
    * shape: ANN recall produces a SMALL pool per query (here the
    * bounded-heap top-8), embeddings join back onto the pool (a
    * broadcast — the pool is queries×8 rows), and the greedy selection
    * runs per-query over ≤8 candidates inside mapGroups — bounded
    * local work, no corpus shuffle, the diversity-aware sampling stage
    * a training-data pipeline runs after retrieval. Ties break on
    * vec_id ascending; rank-1's penalty term is 0 (empty selected
    * set), matching the unrolled oracle.
    */
  private[graft] def mmrRerank(e: DataFrame, nQueries: Int, poolK: Int,
                               k: Int, lambda: Double): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val scored = e.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("rel", expr(cos))
      .select(col("q_id"), col("vec_id"), col("rel")).as[(Long, Long, Double)]
    val pool = scored.groupByKey(_._1)
      .agg(new graft.functions.TopKByScore(poolK).toColumn)
      .flatMap { case (q, hits) => hits.map { case (v, rel) => (q, v, rel) } }
      .toDF("q_id", "vec_id", "rel")
    val withVec = broadcast(pool)
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("q_id"), col("vec_id"), col("rel"), col("embedding"))
      .as[(Long, Long, Double, Seq[Float])]
    withVec.groupByKey(_._1)
      .flatMapGroups { (q, it) =>
        var remaining = it.toList.sortBy { case (_, v, rel, _) => (-rel, v) }
        val selected = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Double, Double, Seq[Float])] // vec, rel, mmr, emb
        // the penalty is max over the SELECTED set's sims — which can be
        // NEGATIVE (anti-correlated vectors); only the empty set gives 0.
        // Folding from 0.0 would silently clamp negative penalties.
        def penalty(emb: Seq[Float]): Double =
          if (selected.isEmpty) 0.0
          else selected.iterator.map(s => cosLocal(emb, s._4)).max
        while (selected.length < k && remaining.nonEmpty) {
          val best = remaining.minBy { case (_, v, rel, emb) =>
            (-(lambda * rel - (1 - lambda) * penalty(emb)), v)
          }
          selected += ((best._2, best._3,
            lambda * best._3 - (1 - lambda) * penalty(best._4), best._4))
          remaining = remaining.filterNot(_._2 == best._2)
        }
        selected.zipWithIndex.map { case ((v, rel, mmr, _), i) => (q, v, i + 1, rel, mmr) }
      }
      .toDF("q_id", "vec_id", "mmr_rank", "rel", "mmr_score")
  }

  /** Distributed k-means over the embedding column (Lloyd's algorithm,
    * `iters` unrolled steps, seeds = the k smallest-vec_id vectors) —
    * the clustering stage of SemDeDup-style curation, cluster-balanced
    * sampling, and corpus cartography. EXACT cross-engine arithmetic,
    * no rounding bridge: centroid means use the s_label_centroids
    * fixed-point trick (per-dimension sum of FLOOR(x·2^62) as
    * DECIMAL(38,0) — exact and summation-ORDER-FREE, so Spark's
    * partition order cannot drift from DuckDB's scan order), seeds are
    * exact float→double casts, and distances are the shared
    * sequential-fold squared L2 — identical inputs, identical folds,
    * identical argmin (ties break by centroid id).
    *
    * Scale shape: each step's centroid table is COLLECTED bounded
    * (k·64 rows — the ccnetHashedModel convention, not data movement)
    * and rides the next assignment as a broadcast literal, so the
    * corpus never shuffles for assignment (a k-row
    * BroadcastNestedLoopJoin, the intended scoring shape); the only
    * corpus-sized exchange per step is the map-side-combined
    * (cid, dim) fixed-point aggregate — k·64 groups regardless of
    * corpus size. An emptied cluster drops out of the centroid table
    * identically in both engines.
    */
  /** Batch assignment of `vecs` to the nearest of `cents` (squared L2,
    * ties to the smaller cid): broadcast the ≤ k-row centroid table,
    * bounded min-struct aggregate per vector.
    */
  private def kmeansAssignBatch(v: DataFrame,
                                cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    v.crossJoin(broadcast(cents.toDF("cid", "cent")))
      .withColumn("dist", expr(
        """aggregate(zip_with(embedding, cent,
          |  (a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)),
          |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin))
      .groupBy("vec_id").agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.dist").as("dist"))
  }

  /** The Lloyd fit over an already-persisted (vec_id, embedding)
    * frame: seeds + `iters − 1` fixed-point updates (see
    * kmeansClusters' scaladoc for the exactness contract).
    */
  private def kmeansCentroidsOn(v: DataFrame, k: Int, iters: Int): Seq[(Int, Seq[Double])] = {
    val spark = v.sparkSession
    import spark.implicits._
    val P62 = "4611686018427387904.0" // 2^62
    var cents: Seq[(Int, Seq[Double])] = v.orderBy("vec_id").limit(k)
      .select(col("embedding")).collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).map(_.toDouble).toSeq)
      .zipWithIndex.map { case (c, i) => (i, c) }.toSeq
    for (_ <- 1 until iters) {
      val upd = kmeansAssignBatch(v, cents).join(v, "vec_id")
        .select(col("cid"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("cid", "dim")
        .agg(expr(s"CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * $P62) AS DECIMAL(38,0))) AS DOUBLE)")
          .as("sx"), count(lit(1)).as("n"))
        .select(col("cid"), col("dim"), expr(s"sx / n / $P62").as("m"))
        .as[(Int, Int, Double)].collect() // ≤ k·64 rows by construction
      cents = upd.groupBy(_._1).toSeq.map { case (cid, rows) =>
        (cid, rows.sortBy(_._2).map(_._3).toSeq)
      }.sortBy(_._1)
    }
    cents
  }

  /** The offline half of the streaming deployment split: fit the
    * centroids only (st_kmeans_assign ships them into the stream plan
    * as literals, the ccnetHashedModel convention).
    */
  private[graft] def kmeansCentroids(vecs: DataFrame, k: Int = 8,
                                     iters: Int = 3): Seq[(Int, Seq[Double])] = {
    // eager localCheckpoint, not persist (r17): each Lloyd step plans
    // its assignment + fixed-point update over this frame twice, and a
    // persisted frame still re-plans the full input lineage per step —
    // pure driver latency between the bounded k·dim collects. The
    // fixed-point DECIMAL sums are summation-order-free, so the
    // materialized partitioning cannot change the fit; blocks release
    // via the context cleaner when the frame drops.
    // widened before materializing (the prepareWeb stage() pattern): a
    // single-split gate scan would otherwise pin every Lloyd pass to
    // one core; no-op on an already-wide input.
    kmeansCentroidsOn(
      Par.widen(vecs.select(col("vec_id"), col("embedding")), col("vec_id"))
        .localCheckpoint(true), k, iters)
  }

  private[graft] def kmeansClusters(vecs: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    // localCheckpoint leaf, not persist (r17, see kmeansCentroids): no
    // cache registration to release, so a session that builds many
    // entries accumulates no CacheManager marks. Building the frame
    // runs the fit (its bounded collects embed the fitted centroids as
    // literals in the assignment plan) and the assignment checkpoint.
    val v = Par.widen(vecs.select(col("vec_id"), col("embedding")), col("vec_id"))
      .localCheckpoint(true)
    val cents = kmeansCentroidsOn(v, k, iters)
    val out = kmeansAssignBatch(v, cents)
      .select(col("vec_id"), col("cid").as("cluster"), round(col("dist"), 6).as("dist"))
    Materialize(out)
  }

  /** DuckDB twin of [[kmeansClusters]] (k=8, iters=3) as composable
    * CTEs ending in `b3` (vec_id, cid, dist): chained MATERIALIZED
    * CTEs recompute every seed, assignment, and fixed-point centroid
    * update independently. Shared by the s_kmeans_clusters gate and
    * the s_cluster_balance oracle so the two cannot drift.
    */
  private[graft] val KmeansCtes: String = {
    val P62 = "4611686018427387904.0"
    val dist =
      s"""list_reduce(list_transform(generate_series(1, 64),
         |    i -> (e.embedding[i]::DOUBLE - c.cent[i]) * (e.embedding[i]::DOUBLE - c.cent[i])),
         |  (x, y) -> x + y)""".stripMargin
    def step(n: Int, cSrc: String) =
      s"""a$n AS MATERIALIZED (SELECT e.vec_id, c.cid, $dist AS dist
         |  FROM embeddings e CROSS JOIN $cSrc c),
         |b$n AS MATERIALIZED (SELECT vec_id, cid, dist FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |  FROM a$n) WHERE rn = 1)""".stripMargin
    def update(n: Int) =
      s"""c${n + 1} AS MATERIALIZED (SELECT cid, list(m ORDER BY dim) AS cent FROM (
         |  SELECT b.cid, u.dim,
         |    CAST(SUM(CAST(FLOOR(u.x * $P62) AS DECIMAL(38,0))) AS DOUBLE)
         |      / COUNT(*) / $P62 AS m
         |  FROM b$n b JOIN u USING (vec_id) GROUP BY 1, 2) GROUP BY cid)""".stripMargin
    s"""u AS (SELECT vec_id, i AS dim, embedding[i]::DOUBLE AS x
       |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) s),
       |c1 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
       |  list_transform(generate_series(1, 64), i -> embedding[i]::DOUBLE) AS cent
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
       |${step(1, "c1")},
       |${update(1)},
       |${step(2, "c2")},
       |${update(2)},
       |${step(3, "c3")}""".stripMargin
  }

  private[graft] val KmeansSql: String =
    s"""WITH $KmeansCtes
       |SELECT vec_id, cid AS cluster, round(dist, 6) AS dist FROM b3
       |ORDER BY vec_id""".stripMargin

  override def entries: Seq[QueryDef] = Seq(
    // brute-force cosine top-k: the exact baseline every ANN variant is
    // judged against
    QueryDef(
      "s_cosine_topk",
      (s, dir) => {
        import s.implicits._
        val e = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
        val queries = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        // bounded-heap typed aggregator instead of a row_number window:
        // each partition ships ≤ k rows per query, the exchange never
        // carries the full scored corpus×queries relation
        val scored = e.join(broadcast(queries), col("vec_id") =!= col("q_id"))
          .withColumn("cos", expr(cos))
          .select(col("q_id"), col("vec_id"), col("cos")).as[(Long, Long, Double)]
        scored.groupByKey(_._1)
          .agg(new graft.functions.TopKByScore(5).toColumn)
          .flatMap { case (q, hits) =>
            hits.zipWithIndex.map { case ((v, c), i) => (q, v, c, i + 1) }
          }
          .toDF("q_id", "vec_id", "cos", "rn")
          .orderBy("q_id", "rn")
      },
      Some(s"""WITH c AS (SELECT vec_id, embedding,
              |  sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
              |q AS (SELECT vec_id AS q_id, embedding AS q_vec, nrm AS q_nrm FROM c WHERE vec_id < 10),
              |scored AS (SELECT q_id, vec_id,
              |  ${duckDot("q_vec", "embedding")} / (nrm * q_nrm) AS cos
              |  FROM c, q WHERE vec_id <> q_id),
              |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER
              |  (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INT) AS rn FROM scored)
              |SELECT q_id, vec_id, cos, rn FROM ranked WHERE rn <= 5
              |ORDER BY q_id, rn""".stripMargin),
    ),
    // hard-negative mining for contrastive/embedding training (the
    // in-batch-negatives upgrade every dense-retriever recipe runs —
    // e.g. DPR, Karpukhin et al. 2020 §3.2): for each query vector, the
    // top-k most-similar corpus vectors whose LABEL DIFFERS — maximally
    // confusing non-matches. Same plan class as s_cosine_topk (the
    // label inequality rides the broadcast join condition, so only
    // cross-label rows are ever scored): corpus never shuffles,
    // bounded-heap partial top-k, ≤ k rows per query per partition
    // cross the exchange.
    QueryDef(
      "s_hard_negatives",
      (s, dir) => {
        import s.implicits._
        val e = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"), col("label"))
        val queries = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
            col("label").as("q_label"))
        val scored = e.join(broadcast(queries),
            col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
          .withColumn("cos", expr(cos))
          .select(col("q_id"), col("vec_id"), col("cos")).as[(Long, Long, Double)]
        scored.groupByKey(_._1)
          .agg(new graft.functions.TopKByScore(5).toColumn)
          .flatMap { case (q, hits) =>
            hits.zipWithIndex.map { case ((v, c), i) => (q, v, c, i + 1) }
          }
          .toDF("q_id", "vec_id", "cos", "rn")
          .orderBy("q_id", "rn")
      },
      Some(s"""WITH c AS (SELECT vec_id, embedding, label,
              |  sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
              |q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label, nrm AS q_nrm
              |  FROM c WHERE vec_id < 10),
              |scored AS (SELECT q_id, vec_id,
              |  ${duckDot("q_vec", "embedding")} / (nrm * q_nrm) AS cos
              |  FROM c, q WHERE vec_id <> q_id AND label <> q_label),
              |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER
              |  (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INT) AS rn FROM scored)
              |SELECT q_id, vec_id, cos, rn FROM ranked WHERE rn <= 5
              |ORDER BY q_id, rn""".stripMargin),
    ),
    // radius (range) retrieval: every corpus vector within a cosine
    // threshold of each query — the fixed-radius twin of top-k (RAG
    // retrieval-with-floor, duplicate candidate harvesting). The
    // MMR-diversified top-k (see mmrRerank scaladoc): greedy
    // λ·relevance − (1−λ)·max-similarity selection over the bounded
    // top-8 pool, k=3, λ=0.7 — the oracle UNROLLS the three greedy
    // steps (rank-1 by relevance, then two argmax rounds against the
    // growing selected set's pairwise similarities) so every pick and
    // both emitted scores are recomputed independently
    QueryDef(
      "s_mmr_rerank",
      (s, dir) => mmrRerank(
        Tables(s, dir).embeddings.select(col("vec_id"), col("embedding")),
        nQueries = 5, poolK = 8, k = 3, lambda = 0.7)
        .orderBy("q_id", "mmr_rank"),
      Some(s"""WITH c AS (SELECT vec_id, embedding,
              |  sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
              |q AS (SELECT vec_id AS q_id, embedding AS q_vec, nrm AS q_nrm FROM c WHERE vec_id < 5),
              |scored AS (SELECT q_id, c.vec_id, c.embedding, c.nrm,
              |  ${duckDot("q_vec", "c.embedding")} / (c.nrm * q_nrm) AS rel
              |  FROM c, q WHERE c.vec_id <> q_id),
              |pool AS (SELECT q_id, vec_id, embedding, nrm, rel FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rn
              |  FROM scored) WHERE rn <= 8),
              |pair AS (SELECT a.q_id, a.vec_id AS v1, b.vec_id AS v2,
              |  ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS sim
              |  FROM pool a JOIN pool b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id),
              |s1 AS (SELECT q_id, vec_id, rel, 0.7::DOUBLE*rel - (1::DOUBLE-0.7::DOUBLE)*0.0 AS mmr FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rn
              |  FROM pool) WHERE rn = 1),
              |m2 AS (SELECT p.q_id, p.vec_id, p.rel, 0.7::DOUBLE*p.rel - (1::DOUBLE-0.7::DOUBLE)*pr.sim AS mmr
              |  FROM pool p JOIN s1 ON p.q_id = s1.q_id AND p.vec_id <> s1.vec_id
              |  JOIN pair pr ON pr.q_id = p.q_id AND pr.v1 = p.vec_id AND pr.v2 = s1.vec_id),
              |s2 AS (SELECT q_id, vec_id, rel, mmr FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY mmr DESC, vec_id) AS rn
              |  FROM m2) WHERE rn = 1),
              |m3 AS (SELECT p.q_id, p.vec_id, p.rel,
              |  0.7::DOUBLE*p.rel - (1::DOUBLE-0.7::DOUBLE)*GREATEST(p1.sim, p2.sim) AS mmr
              |  FROM pool p
              |  JOIN s1 ON p.q_id = s1.q_id JOIN s2 ON p.q_id = s2.q_id
              |  JOIN pair p1 ON p1.q_id = p.q_id AND p1.v1 = p.vec_id AND p1.v2 = s1.vec_id
              |  JOIN pair p2 ON p2.q_id = p.q_id AND p2.v1 = p.vec_id AND p2.v2 = s2.vec_id
              |  WHERE p.vec_id <> s1.vec_id AND p.vec_id <> s2.vec_id),
              |s3 AS (SELECT q_id, vec_id, rel, mmr FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY mmr DESC, vec_id) AS rn
              |  FROM m3) WHERE rn = 1)
              |SELECT q_id, vec_id, CAST(1 AS INT) AS mmr_rank, rel, mmr AS mmr_score FROM s1
              |UNION ALL SELECT q_id, vec_id, CAST(2 AS INT), rel, mmr FROM s2
              |UNION ALL SELECT q_id, vec_id, CAST(3 AS INT), rel, mmr FROM s3
              |ORDER BY q_id, mmr_rank""".stripMargin),
    ),
    // threshold filter runs INSIDE the scan stage on the codegen'd
    // cosine expression, so only matches ever cross the exchange —
    // strictly cheaper than top-k (no heap state); the corpus never
    // shuffles. Unrounded cos: threshold MEMBERSHIP must agree
    // cross-engine at the ulp, same discipline as d_embedding_neardup.
    QueryDef(
      "s_range_search",
      (s, dir) => {
        val e = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
        val queries = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        rangeSearch(e, queries, 0.35).orderBy("q_id", "vec_id")
      },
      Some(RangeSearchSql),
    ),
    // two-stage prefix rerank (matryoshka-style): stage 1 scores only
    // the first 16 of 64 dims (4× less arithmetic and — with truncated
    // storage — 4× fewer bytes scanned) and keeps top-20 candidates per
    // query through the bounded-heap partial aggregate; stage 2 exact-
    // rescores ONLY those Q×20 rows at full width. Fully oracled
    // because both stages are deterministic (the coarse dot is an
    // unrounded sequential fold — bit-identical cross-engine — so both
    // engines pick the SAME candidate set before the exact pass).
    // Retrieval quality is a property of the EMBEDDINGS, not the
    // operator: the prefix is only a faithful proxy when the model was
    // trained front-loaded (matryoshka); on this synthetic testdata
    // (no front-loading) recall vs exact top-5 measures ~0.32 — the
    // documented reason there is no recall-floor spec here, unlike the
    // IVF/SRP/PQ paths which quantize ALL dims. PrefixRerankSpec
    // instead pins the mechanism against an independent JVM
    // recomputation.
    QueryDef(
      "s_prefix_rerank_topk",
      (s, dir) => {
        import s.implicits._
        val e = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
        val queries = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val coarse = e.join(broadcast(queries), col("vec_id") =!= col("q_id"))
          .withColumn("cdot",
            expr("dot_product(slice(q_vec, 1, 16), slice(embedding, 1, 16))"))
          .select(col("q_id"), col("vec_id"), col("cdot")).as[(Long, Long, Double)]
        val cands = coarse.groupByKey(_._1)
          .agg(new graft.functions.TopKByScore(20).toColumn)
          .flatMap { case (q, hits) => hits.map { case (v, _) => (q, v) } }
          .toDF("q_id", "vec_id")
        val rescored = cands
          .join(e, "vec_id")
          .join(broadcast(queries), "q_id")
          .withColumn("cos", expr(cos))
          .select(col("q_id"), col("vec_id"), col("cos")).as[(Long, Long, Double)]
        rescored.groupByKey(_._1)
          .agg(new graft.functions.TopKByScore(5).toColumn)
          .flatMap { case (q, hits) =>
            hits.zipWithIndex.map { case ((v, c), i) => (q, v, c, i + 1) }
          }
          .toDF("q_id", "vec_id", "cos", "rn")
          .orderBy("q_id", "rn")
      },
      Some {
        val prefixDot =
          "list_reduce(list_transform(generate_series(1, 16), i -> q_vec[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)"
        s"""WITH c AS (SELECT vec_id, embedding,
           |  sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
           |q AS (SELECT vec_id AS q_id, embedding AS q_vec, nrm AS q_nrm FROM c WHERE vec_id < 10),
           |coarse AS (SELECT q_id, vec_id, $prefixDot AS cdot
           |  FROM c, q WHERE vec_id <> q_id),
           |cand AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
           |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cdot DESC, vec_id) AS crn
           |  FROM coarse) WHERE crn <= 20),
           |rescored AS (SELECT cand.q_id, cand.vec_id,
           |  ${duckDot("q_vec", "embedding")} / (nrm * q_nrm) AS cos
           |  FROM cand JOIN c ON c.vec_id = cand.vec_id JOIN q ON q.q_id = cand.q_id),
           |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER
           |  (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS INT) AS rn FROM rescored)
           |SELECT q_id, vec_id, cos, rn FROM ranked WHERE rn <= 5
           |ORDER BY q_id, rn""".stripMargin
      },
    ),
    // near-duplicate pairs by cosine over a bounded probe set
    QueryDef(
      "d_embedding_neardup",
      (s, dir) => {
        val e = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
        val probe = e.filter(col("vec_id") < 200)
          .select(col("vec_id").as("a_id"), col("embedding").as("q_vec"))
        e.join(broadcast(probe), col("a_id") < col("vec_id"))
          .withColumn("cos", expr(cos))
          .filter(col("cos") >= 0.45)
          .select(col("a_id"), col("vec_id").as("b_id"), col("cos"))
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH c AS (SELECT vec_id, embedding,
              |  sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
              |p AS (SELECT vec_id AS a_id, embedding AS a_vec, nrm AS a_nrm FROM c WHERE vec_id < 200)
              |SELECT a_id, vec_id AS b_id,
              |${duckDot("a_vec", "embedding")} / (a_nrm * nrm) AS cos
              |FROM c, p WHERE a_id < vec_id
              |  AND ${duckDot("a_vec", "embedding")} / (a_nrm * nrm) >= 0.45
              |ORDER BY a_id, b_id""".stripMargin),
    ),
    // corpus-scale near-dup: BOTH sides IVF-bucketed (multi-probe
    // assignment), pairs form only inside shared buckets — the general
    // operator behind the bounded-probe oracle demo above. Rows-only
    // (kmeans has no DuckDB twin); AnnIndexSpec measures recall vs the
    // brute-force pair set.
    QueryDef(
      "d_embedding_neardup_ivf",
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        val corpus = e.select(col("vec_id"), col("embedding"))
        // k tuning is a recall/cost dial, NOT one-size: at this LOW tau
        // (0.45) "near"-dup pairs are not tight in L2, so sqrt(n)-fine
        // buckets lose boundary pairs (measured: 112 → 79 pairs at
        // sf0.1 with k=sqrt(n), nprobe=2). Keep buckets coarse for
        // low-tau near-dup; raise k (toward sqrt(n)) only together with
        // tau/nprobe when duplicates are genuinely close.
        val centroids = graft.api.AnnIndex.kmeans(corpus, k = 8, iters = 3)
        graft.api.AnnIndex.nearDupPairs(corpus, centroids, tau = 0.45, nprobe = 3)
          .orderBy("a_id", "b_id")
      },
      Some(graft.api.ParseSnapshots.sfPinnedSql("d_embedding_neardup_ivf")),
    ),
    // training-free corpus-scale near-dup: SRP band self-join
    // (bucket-capped) + exact cosine — the embedding analogue of the
    // simhash64 text path
    QueryDef(
      "d_embedding_neardup_srp",
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        val corpus = e.select(col("vec_id"), col("embedding"))
        graft.api.SrpLsh.nearDupPairs(corpus, dim = 64, tau = 0.45)
          .orderBy("a_id", "b_id")
      },
      Some(graft.api.ParseSnapshots.sfPinnedSql("d_embedding_neardup_srp")),
    ),
    // SRP-LSH ANN: the training-free bucketed path (random-hyperplane
    // sign signatures, no kmeans build; signatures are pure functions
    // of the vector so a streaming corpus buckets incrementally).
    // Rows-only; SrpLshSpec pins determinism + recall vs brute force.
    QueryDef(
      "s_srp_topk",
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        val corpus = e.select(col("vec_id"), col("embedding"))
        val queries = corpus.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        graft.api.SrpLsh.search(corpus, queries, dim = 64, topK = 5)
          .orderBy("q_id", "rn")
      },
      Some(graft.api.ParseSnapshots.sfPinnedSql("s_srp_topk")),
    ),
    // PQ/ADC ANN: the memory-compression path — corpus stored as 16
    // 4-bit codes (8 bytes packed, 32× under float32), queries score
    // via an asymmetric-distance lookup table without ever decoding
    // the corpus. Complements IVF (which prunes vectors scored) —
    // composed they are the standard IVF-PQ billion-vector layout.
    // m=16 subspaces of 4 dims beats 8×8 on recall at the SAME packed
    // payload (measured 0.45 vs 0.26 here): finer subspaces quantize
    // structureless dims with less error. Rows-only (kmeans codebooks
    // have no DuckDB twin); PqIndexSpec pins code ranges, determinism,
    // and recall vs exact L2.
    QueryDef(
      "s_pq_topk",
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        val corpus = e.select(col("vec_id"), col("embedding"))
        val queries = corpus.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val cb = graft.api.PqIndex.codebooks(corpus, dim = 64, m = 16, ksub = 16, iters = 3)
        val codes = graft.api.PqIndex.encode(corpus, cb, dim = 64, m = 16)
        graft.api.PqIndex.adcSearch(codes, cb, queries, dim = 64, m = 16, topK = 5)
          .orderBy("q_id", "rn")
      },
      Some(graft.api.ParseSnapshots.sfPinnedSql("s_pq_topk")),
    ),
    // IVF-PQ composed: coarse centroids prune WHICH vectors are scored,
    // PQ codes cut the BYTES per scored vector — the standard
    // billion-vector index layout, here as one DataFrame pipeline.
    // Rows-only; PqIndexSpec pins the composed recall floor.
    QueryDef(
      "s_ivfpq_topk",
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        val corpus = e.select(col("vec_id"), col("embedding"))
        val queries = corpus.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val centroids = graft.api.AnnIndex.kmeans(corpus, k = 8, iters = 3)
        val cb = graft.api.PqIndex.codebooks(corpus, dim = 64, m = 16, ksub = 16, iters = 3)
        graft.api.PqIndex.ivfpqSearch(corpus, centroids, cb, queries,
          dim = 64, m = 16, nprobe = 3, topK = 5)
          .orderBy("q_id", "rn")
      },
      Some(graft.api.ParseSnapshots.sfPinnedSql("s_ivfpq_topk")),
    ),
    // kNN majority-vote classification: predict each query vector's
    // label from its 10 nearest labeled neighbors — the standard
    // embedding-quality probe (a label that can't be recovered from
    // neighbors signals a broken embedding space). Same at-scale shape
    // as s_cosine_topk: queries broadcast, corpus never shuffles, top-k
    // rides the bounded-heap partial aggregate; the vote is a tiny
    // (queries × labels) aggregate with a collision-free max_by key
    // (votes dominate, label asc breaks exact vote ties identically in
    // both engines).
    QueryDef(
      "s_knn_classify",
      (s, dir) => {
        import s.implicits._
        val e = Tables(s, dir).embeddings
        val labeled = e.filter(col("vec_id") >= 10)
          .select(col("vec_id"), col("embedding"), col("label"))
        val queries = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val scored = labeled.join(broadcast(queries))
          .withColumn("cos", expr(cos))
          .select(col("q_id"), col("vec_id"), col("cos")).as[(Long, Long, Double)]
        val topk = scored.groupByKey(_._1)
          .agg(new graft.functions.TopKByScore(10).toColumn)
          .flatMap { case (q, hits) => hits.map { case (v, _) => (q, v) } }
          .toDF("q_id", "vec_id")
        topk.join(labeled.select("vec_id", "label"), "vec_id")
          .groupBy("q_id", "label")
          .agg(count(lit(1)).as("votes"))
          .groupBy("q_id")
          .agg(max_by(col("label"), expr("votes * 1000 - label")).as("pred_label"),
               max(col("votes")).as("votes"))
          .orderBy("q_id")
      },
      Some(s"""WITH n AS (SELECT vec_id, embedding, label,
              |  sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
              |c AS (SELECT * FROM n WHERE vec_id >= 10),
              |q AS (SELECT vec_id AS q_id, embedding AS q_vec, nrm AS q_nrm FROM n WHERE vec_id < 10),
              |scored AS (SELECT q_id, c.vec_id, label,
              |  ${duckDot("q_vec", "embedding")} / (nrm * q_nrm) AS cos
              |  FROM c, q),
              |ranked AS (SELECT *, ROW_NUMBER() OVER
              |  (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM scored),
              |v AS (SELECT q_id, label, COUNT(*) AS votes FROM ranked
              |  WHERE rn <= 10 GROUP BY 1, 2)
              |SELECT q_id, arg_max(label, votes * 1000 - label) AS pred_label,
              |MAX(votes) AS votes
              |FROM v GROUP BY 1 ORDER BY 1""".stripMargin),
    ),
    // embedding hygiene stats per label: L2-norm distribution — the
    // sanity panel a vector pipeline runs before indexing (zero-norm or
    // exploding vectors break cosine). Per-row norm is a sequential
    // double fold (bit-identical to DuckDB's list_reduce); the per-group
    // mean goes through an exact decimal sum so row order can't drift
    // the hash.
    QueryDef(
      "s_vector_stats",
      (s, dir) => {
        // norms stay UNROUNDED (identical folds → identical doubles; a
        // display-precision round is the cross-engine tie trap). The
        // per-group mean needs an order-free exact sum of derived
        // doubles, and double→DECIMAL casts drift a ulp cross-engine —
        // so each norm is floored onto the 2^-52 grid first: the
        // power-of-two multiply only shifts the exponent (exact at any
        // magnitude) and FLOOR of identical doubles is identical, so
        // the DECIMAL sums agree bit for bit. 2^52 (not 2^62) leaves
        // headroom for norms above 2.
        val P52 = "4503599627370496.0" // 2^52
        val e = Tables(s, dir).embeddings
        val nrm = expr(
          """sqrt(aggregate(transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)),
            |CAST(0 AS DOUBLE), (a, x) -> a + x))""".stripMargin)
        e.select(col("label"), nrm.as("nrm"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_vecs"),
               min(col("nrm")).as("min_norm"),
               max(col("nrm")).as("max_norm"),
               expr(s"CAST(SUM(CAST(FLOOR(nrm * $P52) AS DECIMAL(38,0))) AS DOUBLE) / COUNT(1) / $P52")
                 .as("avg_norm"))
          .orderBy("label")
      },
      Some(s"""WITH c AS (SELECT label,
              |  sqrt(${duckDot("embedding", "embedding")}) AS nrm
              |  FROM embeddings)
              |SELECT label, COUNT(*) AS n_vecs,
              |MIN(nrm) AS min_norm,
              |MAX(nrm) AS max_norm,
              |CAST(SUM(CAST(FLOOR(nrm * 4503599627370496.0) AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*) / 4503599627370496.0 AS avg_norm
              |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),
    ),
    // per-label CENTROID norms — the class-separation half of the
    // embedding-quality panel (s_vector_stats covers per-vector norms).
    // Per-dimension sums must be order-free AND cross-engine exact; a
    // double→DECIMAL cast is NOT (Spark rounds the exact binary
    // expansion, DuckDB a scaled double product — they drift a ulp on
    // ordinary values, observed here). Instead each component is
    // quantized to the 2^-62 grid with FLOOR: the power-of-two multiply
    // only shifts the exponent (exact in double), and floor of
    // identical doubles is identical in every engine at ANY magnitude —
    // unlike a double→BIGINT cast, where a sub-2^-39 component is
    // fractional after scaling and Spark truncates while DuckDB rounds.
    // Integer sums are then engine-identical. The 64 per-dim means fold
    // SEQUENTIALLY (index-ordered aggregate lambda ≡ DuckDB's ordered
    // list_reduce) so the norm is bit-identical. Shape: one explode +
    // two map-side-combinable aggregates — 64 rows per label cross the
    // exchange, never vectors.
    QueryDef(
      "s_label_centroids",
      (s, dir) => {
        val P62 = "4611686018427387904.0" // 2^62
        val e = Tables(s, dir).embeddings
        val comp = e.select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
          .groupBy("label", "i")
          .agg(sum(expr(s"CAST(FLOOR(CAST(x AS DOUBLE) * $P62) AS DECIMAL(38,0))")).as("sx"),
            count(lit(1)).as("n"))
        comp.select(col("label"), col("i"),
          expr(s"CAST(sx AS DOUBLE) / n / $P62").as("m"), col("n"))
          .groupBy("label")
          .agg(max("n").as("n_vectors"),
            array_sort(collect_list(struct(col("i"), col("m"))))
              .getField("m").as("mv"))
          .select(col("label"), col("n_vectors"),
            expr("sqrt(aggregate(mv, CAST(0 AS DOUBLE), (a, v) -> a + v * v))")
              .as("centroid_norm"))
          .orderBy("label")
      },
      Some("""WITH comp AS (SELECT label, i,
             |  SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 4611686018427387904.0) AS DECIMAL(38,0))) AS sx,
             |  COUNT(*) AS n
             |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) s
             |  GROUP BY 1, 2),
             |means AS (SELECT label, i, CAST(sx AS DOUBLE)/n/4611686018427387904.0 AS m, n FROM comp)
             |SELECT label, MAX(n) AS n_vectors,
             |sqrt(list_reduce(list_transform(list(m ORDER BY i), v -> v*v), (a, b) -> a + b)) AS centroid_norm
             |FROM means GROUP BY 1 ORDER BY 1""".stripMargin),
    ),
    // unsupervised k-means corpus clustering (see kmeansClusters): the
    // SemDeDup/cluster-balanced-sampling stage, fully DuckDB-oracled —
    // the oracle recomputes all three Lloyd steps as chained
    // MATERIALIZED CTEs with the same exact fixed-point centroid means,
    // so assignments AND distances are bit-identical by construction
    QueryDef(
      "s_kmeans_clusters",
      (s, dir) => kmeansClusters(
        Tables(s, dir).embeddings.select(col("vec_id"), col("embedding")))
        .orderBy("vec_id"),
      Some(KmeansSql),
    ),
    // cluster-BALANCED sampling (the MetaCLIP/SSL curation move: cap
    // every k-means cluster at m members so head clusters stop
    // dominating the mixture): per cluster, keep the m=32 smallest
    // md5-priority vectors — a deterministic uniform draw that is
    // reproducible across runs, engines, and repartitionings (the
    // t_weighted_sample hash-as-uniform convention, 13 hex chars = 52
    // bits so the Long is EXACT in the aggregator's double score).
    // The per-cluster cap is the bounded-heap partial aggregate, NOT a
    // row_number window: each map partition ships ≤ m rows per
    // cluster, so a billion-member head cluster never funnels through
    // one partition. Oracle chains the shared k-means CTEs into an
    // independent ROW_NUMBER recomputation.
    QueryDef(
      "s_cluster_balance",
      (s, dir) => {
        import s.implicits._
        val assigned = kmeansClusters(
          Tables(s, dir).embeddings.select(col("vec_id"), col("embedding")))
        val scored = assigned.select(
            col("cluster").cast("long"), col("vec_id"),
            -conv(substring(md5(col("vec_id").cast("string")), 1, 13), 16, 10)
              .cast("bigint").cast("double"))
          .as[(Long, Long, Double)]
        scored.groupByKey(_._1)
          .agg(new graft.functions.TopKByScore(32).toColumn)
          .flatMap { case (c, hits) =>
            hits.zipWithIndex.map { case ((v, _), i) => (v, c.toInt, i + 1) }
          }
          .toDF("vec_id", "cluster", "rn")
          .orderBy("vec_id")
      },
      Some(s"""WITH $KmeansCtes,
              |r AS (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY cid
              |  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 13) AS BIGINT),
              |    vec_id) AS rn
              |  FROM b3)
              |SELECT vec_id, cid AS cluster, CAST(rn AS INT) AS rn FROM r
              |WHERE rn <= 32 ORDER BY vec_id""".stripMargin),
    ),
    // IVF-style ANN: k-means bucketing (graft.api.AnnIndex), queries
    // probe the 3 nearest of 8 buckets. Rows-only: recall and structure
    // are spec-tested against the brute-force baseline.
    QueryDef(
      "s_ivf_topk",
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        val corpus = e.select(col("vec_id"), col("embedding"))
        // top-k search (unlike low-tau near-dup) tolerates finer
        // buckets: k ~ sqrt(n) keeps the probed fraction shrinking as
        // the corpus grows while the recall spec holds. count() over
        // parquet is metadata-only.
        val k = math.max(8, math.ceil(math.sqrt(corpus.count().toDouble)).toInt)
        val centroids = graft.api.AnnIndex.kmeans(corpus, k = k, iters = 3)
        val queries = corpus.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        graft.api.AnnIndex.search(corpus, centroids, queries, nprobe = 3, topK = 5)
          .orderBy("q_id", "rn")
      },
      Some(graft.api.ParseSnapshots.sfPinnedSql("s_ivf_topk")),
    ),
    // SemDeDup-shaped end-to-end semantic dedup: SRP near-dup pairs →
    // connected-component clusters → keep the smallest vec_id per
    // cluster. Every stage is the already-audited at-scale shape
    // (capped band self-join, join/groupBy label propagation, anti
    // join); the composite is what a pipeline actually runs. Rows-only;
    // SemanticDedupSpec pins: kept ⊆ corpus, no surviving pair has both
    // sides kept, every dropped vector's cluster representative is kept.
    QueryDef(
      "d_semantic_dedup",
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        val corpus = e.select(col("vec_id"), col("embedding"))
        val pairs = graft.api.SrpLsh.nearDupPairs(corpus, dim = 64, tau = 0.45)
          .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"))
        graft.api.DedupPipeline.dedup(corpus, pairs, idCol = "vec_id")
          .select(col("vec_id")).orderBy("vec_id")
      },
      Some(graft.api.ParseSnapshots.sfPinnedSql("d_semantic_dedup")),
    ),
  )
}
