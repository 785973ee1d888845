package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-style ANN index: k-means over the embedding column, corpus
  * assigned to centroid buckets, queries probe only the nprobe nearest
  * buckets. Everything is DataFrame ops — assignment is a broadcast
  * cross join (centroids are tiny), centroid update is a
  * posexplode/groupBy mean — so the index build is k·iters passes over
  * the corpus with no shuffle larger than a groupBy(cluster), and scales
  * to a 100 TB corpus the same way any aggregation does.
  */
object AnnIndex {

  // native codegen'd expression (graft.plans.FloatArrayKernel) — the
  // corpus×centroids assignment loop must not run as interpreted
  // higher-order lambdas; arithmetic is identical to the
  // aggregate(zip_with(...)) fold it replaces
  private val sqDist = "sq_distance(embedding, centroid)"

  /** (cluster, centroid float array); deterministic init from the first
    * k vectors by id.
    *
    * `iters` COUNTS THE SEED ASSIGNMENT AS STEP 1: the fit runs the
    * seed selection plus `iters − 1` centroid updates
    * (kmeansCentroidsOn's convention — iters = 1 returns the raw
    * seeds).
    *
    * ONE coarse-quantizer Lloyd: this delegates to the oracled
    * fixed-point fit (Similarity.kmeansCentroids — per-dimension sums
    * of FLOOR(x·2^62) as DECIMAL(38,0), exact and summation-ORDER-FREE,
    * k·dim-bounded centroid collect per step) instead of carrying a
    * second float-avg implementation whose means depend on partition
    * order. (PqIndex.codebooks keeps its own per-subspace loop — the
    * key is (j, code), not cid — but uses the SAME fixed-point update,
    * so no partition-order-dependent Lloyd remains anywhere.) The IVF family's centroids are therefore run-to-run AND
    * plan-to-plan deterministic, which is what lets its gate entries be
    * snapshot-pinned at all. Caveat for index-scale k (k ≈ √n at
    * 100 TB): the per-step collect is k·dim rows — still driver-safe at
    * tens of thousands of centroids (a 64-dim float table at k=100k is
    * ~50 MB); past that, keep the update distributed by re-joining the
    * (cid, dim, mean) aggregate instead of collecting it.
    */
  def kmeans(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    val s = embeddings.sparkSession
    import s.implicits._
    graft.operators.Similarity.kmeansCentroids(
        embeddings.select(col("vec_id"), col("embedding")), k, iters)
      .map { case (cid, cent) => (cid, cent.map(_.toFloat)) }
      .toDF("cluster", "centroid")
  }

  /** Nearest centroid per corpus vector (the codegen'd sq_distance,
    * centroid side broadcast — one pass, no shuffle).
    */
  def assign(corpus: DataFrame, centroids: DataFrame): DataFrame =
    graft.operators.Par.widen(corpus, col("vec_id")).crossJoin(broadcast(centroids))
      .withColumn("d", expr(sqDist))
      .groupBy("vec_id")
      .agg(min(struct(col("d"), col("cluster"))).as("best"))
      .select(col("vec_id"), col("best.cluster").as("cluster"))

  /** nprobe nearest centroids per corpus vector (multi-probe
    * assignment). Unlike a row_number window over the n×k cross join,
    * the per-vector top-nprobe is a groupBy with a partial
    * collect+sort of at most k (tiny) entries — map-side combinable.
    */
  def assignMulti(corpus: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame =
    graft.operators.Par.widen(corpus, col("vec_id")).crossJoin(broadcast(centroids))
      .withColumn("d", expr(sqDist))
      .groupBy("vec_id")
      .agg(slice(array_sort(collect_list(struct(col("d"), col("cluster")))), 1, nprobe).as("top"))
      .select(col("vec_id"), explode(col("top.cluster")).as("cluster"))

  /** Corpus-scale embedding near-dup: BOTH sides bucketed — each vector
    * lands in its nprobe nearest centroid buckets, candidate pairs form
    * only inside shared buckets (never the n² cross join), then exact
    * cosine ≥ tau verifies. The at-scale generalization of the bounded
    * probe-set demo d_embedding_neardup; recall vs the brute-force
    * oracle is spec-measured.
    */
  def nearDupPairs(corpus: DataFrame, centroids: DataFrame, tau: Double,
                   nprobe: Int = 2): DataFrame = {
    // persist the assignment: it feeds BOTH self-join sides, and
    // without materialization each side re-runs the corpus×centroids
    // distance pass; released once the (small) pair list materializes
    val assigned = assignMulti(corpus, centroids, nprobe).persist()
    val cand = assigned.as("a")
      .join(assigned.as("b"),
            col("a.cluster") === col("b.cluster") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
    graft.operators.Materialize(VectorOps.verifyPairs(cand, corpus, tau), assigned)
  }

  /** Top-k by cosine probing the nprobe nearest buckets per query. */
  def search(
      corpus: DataFrame, centroids: DataFrame, queries: DataFrame,
      nprobe: Int, topK: Int): DataFrame = {
    val assigned = assign(corpus, centroids).join(corpus, "vec_id")
    val qProbes = queries.crossJoin(broadcast(centroids))
      .withColumn("d", expr(sqDist.replace("embedding", "q_vec")))
      .withColumn("pr", row_number().over(
        Window.partitionBy("q_id").orderBy(asc("d"), asc("cluster"))))
      .filter(col("pr") <= nprobe)
      .select(col("q_id"), col("q_vec"), col("cluster"))
    val scored = assigned.join(broadcast(qProbes), Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", expr("cosine_similarity(q_vec, embedding)"))
    // bounded-heap top-k (partial aggregate, ≤ k rows per query per
    // partition cross the exchange) — not a window over all scored rows
    graft.functions.TopKByScore.top(scored, "q_id", "vec_id", "cos", topK)
  }
}
