package graft.api

import graft.operators.Bounded
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus deduplication: near-dup PAIRS (from MinHash/SimHash/
  * embedding similarity) → duplicate CLUSTERS → deduped corpus keeping
  * one representative per cluster.
  *
  * Clustering is min-label propagation over the pair graph — each
  * iteration is two hash-join/groupBy passes (no driver-side graph), and
  * iterations are bounded by the graph diameter, which for near-dup
  * clusters is tiny (dup groups are near-cliques). This is the standard
  * scalable connected-components shape for 100 TB dedup jobs.
  */
object DedupPipeline {

  /** pairs(doc_a, doc_b) → (doc_id, cluster_id) where cluster_id is the
    * smallest doc_id reachable through the pair graph. Docs not in any
    * pair are omitted (they are their own cluster).
    *
    * r16 small-graph fast path: the pair list every caller hands in is
    * an already-materialized near-dup pair frame that is tiny relative
    * to its corpus (pairs are the dedup family's REDUCTION; the house
    * pipelines checkpoint it before clustering). Within [[Bounded.Rows]]
    * edges an exact driver union-find
    * computes the components in one collect instead of ~3 propagation
    * iterations × (join + aggregate + checkpoint + convergence scan)
    * distributed jobs. The result is the EXACT transitive closure
    * (identical to the recursive-CTE oracle; the iterative path is
    * equivalent only once converged). Past the bound, the distributed
    * min-label propagation below is the 100 TB path, unchanged.
    *
    * Integral `doc_a`/`doc_b` come back as a `(doc_id: long,
    * cluster_id: long)` frame, and a null id in either column fails
    * with an IllegalArgumentException on both paths. Other id types
    * take the distributed path and keep their type.
    */
  def clusters(pairs: DataFrame, maxIters: Int = 10): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // Fast-path eligibility: integral ids only. cast("long") on a
    // string-id pair frame yields nulls and a runtime encoder failure
    // at collect, where the distributed propagation is id-type-agnostic
    // (min/join work on any ordered type) — so non-integral callers
    // fall through instead of crashing (r17, advisor finding).
    val integralIds = pairs.select(col("doc_a"), col("doc_b")).schema.fields
      .forall(_.dataType match {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
        case _ => false
      })
    if (!integralIds) return clustersDistributed(pairs, maxIters)
    // Single-derivation contract (r17): the deciding aggregate
    // materializes the 2-long-column projection that the collect or the
    // propagation then reads. It also counts null ids, which the fast
    // path's (Long, Long) decode could not carry.
    val (edges, m) = Bounded.measure(
      pairs.select(col("doc_a").cast("long").as("doc_a"), col("doc_b").cast("long").as("doc_b")),
      count(lit(1)), count(col("doc_a")), count(col("doc_b")))
    val n = m.getLong(0)
    for ((c, i) <- Seq("doc_a" -> 1, "doc_b" -> 2); nulls = n - m.getLong(i))
      require(nulls == 0, s"DedupPipeline.clusters: $nulls pair rows have a null $c; " +
        "drop or resolve them before clustering")
    if (n <= Bounded.Rows) {
      val es = edges.as[(Long, Long)].collect()
      // Primitive union-find (r17, advisor finding): the old
      // java.util.HashMap[Long, Long] held up to 8M BOXED entries
      // (~0.5-1 GB real footprint at the bound) on the 8 GiB driver.
      // Remap node ids to dense ints via one sorted distinct array
      // (binary search), run union-find on an int parent array:
      // ~96 MB at the bound, no boxing. Tuple2[Long, Long] is
      // @specialized, so the collected edge array itself is unboxed
      // fields (transient ~32 B/edge).
      val nodes = {
        val ids = new Array[Long](es.length * 2)
        var i = 0
        while (i < es.length) {
          ids(2 * i) = es(i)._1; ids(2 * i + 1) = es(i)._2; i += 1
        }
        java.util.Arrays.sort(ids)
        // dedup in place
        var n = 0
        var j = 0
        while (j < ids.length) {
          if (n == 0 || ids(n - 1) != ids(j)) { ids(n) = ids(j); n += 1 }
          j += 1
        }
        java.util.Arrays.copyOf(ids, n)
      }
      val parent = Array.tabulate(nodes.length)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      var i = 0
      while (i < es.length) {
        val ra = find(java.util.Arrays.binarySearch(nodes, es(i)._1))
        val rb = find(java.util.Arrays.binarySearch(nodes, es(i)._2))
        // union by MIN root: node ids are sorted, so the smaller INDEX
        // is the smaller id and the representative stays the smallest
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        i += 1
      }
      val rows = new Array[(Long, Long)](nodes.length)
      i = 0
      while (i < nodes.length) { rows(i) = (nodes(i), nodes(find(i))); i += 1 }
      // parallelize instead of a single-partition LocalRelation (r17):
      // an up-to-8M-row local result re-entering the plan as ONE
      // partition serialized into the plan tree made every downstream
      // join/window over it single-task (and bloated Catalyst's tree);
      // an RDD-backed frame enters at cluster parallelism.
      return spark.createDataset(spark.sparkContext.parallelize(rows.toIndexedSeq,
          math.max(1, math.min(spark.sparkContext.defaultParallelism,
            1 + rows.length / 10000))))
        .toDF("doc_id", "cluster_id")
    }
    clustersDistributed(edges, maxIters)
  }

  /** The distributed min-label propagation — the past-the-bound path.
    * private[graft] so the parity spec can pit it against the driver
    * union-find on identical numeric ids.
    */
  private[graft] def clustersDistributed(pairs: DataFrame, maxIters: Int = 10): DataFrame = {
    val edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .union(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .distinct()
      .cache()
    // labels start as each node's smallest neighbor (or itself)
    var labels = edges.groupBy(col("a").as("doc_id"))
      .agg(least(min(col("b")), first(col("a"))).as("label"))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // propagate: my new label = min(my label, labels of my neighbors).
      // The convergence flag rides the SAME pass as a per-row `changed`
      // column (labels only ever decrease, so changed ⇔ new < old):
      // the old shape re-joined next against labels afterwards — one
      // extra join + job per iteration for a fact the propagation
      // already knows row-by-row. The flag column is dropped before
      // return, so the result frame is unchanged.
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("doc_id", "b"), "b")
        .groupBy(col("a").as("doc_id"))
        .agg(min(col("label")).as("n_label"))
      val next = labels.join(viaNeighbors, Seq("doc_id"), "left")
        .select(col("doc_id"),
                least(col("label"), coalesce(col("n_label"), col("label"))).as("label"),
                (coalesce(col("n_label"), col("label")) < col("label")).as("changed"))
        .localCheckpoint()
      // scan of the just-materialized checkpoint — no join, no recompute
      converged = next.filter(col("changed")).isEmpty
      labels = next.drop("changed")
      i += 1
    }
    labels.select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** corpus + near-dup pairs → corpus with one representative (smallest
    * id) per duplicate cluster.
    */
  def dedup(corpus: DataFrame, pairs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val cl = clusters(pairs)
    val losers = cl.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    corpus.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware variant — the SemDeDup/FineWeb keep-best policy
    * (d_keep_best's keeper rule as a DEDUP step): from each near-dup
    * cluster keep the highest-`quality` member, doc_id breaking ties,
    * instead of the smallest id. `quality` is a (doc_id, quality)
    * frame (e.g. TextAnalysis.qualityCol over the same corpus). The
    * keeper window partitions by cluster — bounded groups, never a
    * corpus sort — so this composes over the xxhash64 production LSH
    * path (Dedup.minhashLsh64) at full speed; pair-set and keeper
    * parity with the md5 oracle path is pinned by DedupKeepBest64Spec.
    */
  def dedupKeepBest(corpus: DataFrame, pairs: DataFrame, quality: DataFrame,
                    idCol: String = "doc_id"): DataFrame =
    dedupKeepBestOn(corpus, clusters(pairs), quality, idCol)

  /** [[dedupKeepBest]] with the cluster frame precomputed — the entry
    * point for callers that reuse `cl` (e.g. to member-restrict the
    * quality scan, [[dedupKeepBestBy]]).
    */
  def dedupKeepBestOn(corpus: DataFrame, cl: DataFrame, quality: DataFrame,
                      idCol: String = "doc_id"): DataFrame = {
    // LEFT join + nulls-LAST ordering: a clustered doc missing a quality
    // row must still enter the per-cluster ranking (as the worst member,
    // never silently exempt from dedup) — an inner join would drop it
    // from the window and it could never lose to its duplicates
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("quality").desc_nulls_last, col(idCol))
    val losers = cl
      .withColumnRenamed("doc_id", idCol)
      .join(quality, Seq(idCol), "left")
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") > 1)
      .select(col(idCol))
    corpus.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware dedup where the quality score is an EXPRESSION over
    * `source` rather than a precomputed frame: only near-dup cluster
    * MEMBERS ever enter the per-cluster ranking, so when the member-id
    * set fits the measured broadcast bound the expensive per-doc score
    * is computed for members only (a broadcast semi join BELOW the
    * score projection — handing a pre-projected frame to
    * [[dedupKeepBest]] cannot do this, because no optimizer rule defers
    * a projection through a later join). Past the bound it falls back
    * to the corpus-wide scan, which stays map-side. At 100 TB the
    * member slice is typically ~10% of the corpus, so this is ~10× less
    * quality compute on the dedup path.
    */
  def dedupKeepBestBy(corpus: DataFrame, pairs: DataFrame, source: DataFrame,
                      qualityExpr: org.apache.spark.sql.Column,
                      idCol: String = "doc_id"): DataFrame = {
    val cl = Bounded(clusters(pairs), Bounded.IdRows)
    val restricted =
      if (cl.fits)
        source.join(broadcast(cl.frame.select(col("doc_id").as(idCol))),
          Seq(idCol), "left_semi")
      else source
    dedupKeepBestOn(corpus, cl.frame,
      restricted.select(col(idCol), qualityExpr.as("quality")), idCol)
  }
}
