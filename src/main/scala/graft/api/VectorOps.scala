package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The exact-cosine verification stage of the bucketed near-dup paths
  * (AnnIndex, SrpLsh) — one implementation so a change to thresholding
  * can never silently diverge between the IVF and SRP paths. Their top-k
  * searches, like PqIndex's, rank through `TopKByScore.top`.
  */
private[api] object VectorOps {

  /** Exact-cosine verification of candidate (a_id, b_id) pairs against
    * the corpus, keeping pairs ≥ tau.
    */
  def verifyPairs(cand: DataFrame, corpus: DataFrame, tau: Double): DataFrame =
    cand
      .join(corpus.select(col("vec_id").as("a_id"), col("embedding").as("va")), "a_id")
      .join(corpus.select(col("vec_id").as("b_id"), col("embedding").as("vb")), "b_id")
      .withColumn("cos", expr("cosine_similarity(va, vb)"))
      .filter(col("cos") >= tau)
      .select(col("a_id"), col("b_id"), col("cos"))
}
