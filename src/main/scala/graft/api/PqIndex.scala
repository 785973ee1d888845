package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for vector search: each embedding splits
  * into m subvectors; each subspace gets its own ksub-centroid k-means
  * codebook; a vector is stored as m small codes (the call sites use
  * m=16, ksub=16: 16 4-bit codes, which [[packCodes]] packs into 8
  * literal bytes against 256 bytes of float32 — 32× compression).
  * Queries score against codes via ADC (asymmetric distance
  * computation): a per-query lookup table of query-subvector → centroid
  * distances, so the corpus is never decoded.
  *
  * This is the memory-side complement of the IVF bucket pruning in
  * [[AnnIndex]] (IVF cuts how many vectors are scored; PQ cuts the
  * bytes per scored vector) — composing them is the standard IVF-PQ
  * layout for billion-vector indexes.
  *
  * Spark shape: codebooks are tiny (m·ksub rows) and BROADCAST to both
  * the encode and search joins — the corpus never shuffles to be
  * encoded. The ADC lookup join is a broadcast hash join on (subspace,
  * code), and the per-(query, vector) distance assembles with a
  * map-side-combinable SUM. Top-k rides the same bounded-heap partial
  * aggregate (TopKByScore) as every other ANN path — never a window
  * over the scored relation.
  */
object PqIndex {

  /** 2^40 — the fixed-point grid for ADC distance sums. Squared
    * subvector distances are O(10^2) at most, so pd·2^40 stays well
    * inside the exact-integer range of both DOUBLE and DECIMAL(38,0).
    */
  private val P40 = "1099511627776.0"

  /** (vec_id, j, sub): the m per-subspace slices of each vector.
    * `dim` is the full embedding width (must divide evenly by m).
    */
  def subvectors(vectors: DataFrame, vecCol: String, dim: Int, m: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    vectors.select(
      col("vec_id"),
      explode(expr(
        s"transform(sequence(0, ${m - 1}), " +
          s"j -> struct(CAST(j AS INT) AS j, slice($vecCol, j*$sub+1, $sub) AS sub))")).as("s"))
      .select(col("vec_id"), col("s.j").as("j"), col("s.sub").as("sub"))
  }

  /** Per-subspace k-means codebooks: (j, code, centroid). Deterministic
    * init from the first ksub vectors by id (same convention as
    * AnnIndex.kmeans); one distributed job trains ALL m subspaces at
    * once — the subspace id j is just part of the aggregation key, so
    * adding subspaces widens the key space, not the pass count.
    *
    * The centroid update is the SAME fixed-point mean as the coarse
    * quantizer's Lloyd (Similarity.kmeansCentroids — per-dimension
    * sums of FLOOR(x·2^62) as DECIMAL(38,0), exact and
    * summation-ORDER-FREE), just keyed by (j, code) instead of cid: a
    * float avg()'s per-dimension means depend on partition order, and
    * these codebooks feed the pinned s_pq/s_ivfpq snapshot oracles —
    * the exact nondeterminism class the one-Lloyd consolidation
    * exists to kill.
    */
  def codebooks(embeddings: DataFrame, dim: Int, m: Int, ksub: Int, iters: Int): DataFrame = {
    val P62 = "4611686018427387904.0" // 2^62
    // NOTE (r17): tried the iterative-fit checkpoint pattern here
    // (Par.widen by (vec_id, j) + eager localCheckpoint of subv, the
    // shape that pays off for kmeansCentroids) — measured a consistent
    // REGRESSION at sf0.1 across two alternated matched-load A/Bs:
    // s_pq_topk 3.92→4.49 s, s_ivfpq_topk 5.14→6.23 s (mins).
    // The subvector explode is a cheap pipelined projection over a tiny
    // scan; materializing n_vecs·m array rows costs more than the
    // 2·iters recomputes save, and per-iteration replanning is already
    // cut by the cb lineage checkpoint below. Don't retry.
    val subv = subvectors(embeddings.select(col("vec_id"), col("embedding")),
      "embedding", dim, m)
    var cb = subv.filter(col("vec_id") < ksub)
      .select(col("j"), col("vec_id").cast("int").as("code"), col("sub").as("centroid"))
    (0 until iters).foreach { _ =>
      val assigned = nearestCode(subv, cb)
      cb = assigned
        .join(subv, Seq("vec_id", "j"))
        .select(col("j"), col("code"), posexplode(col("sub")).as(Seq("i", "x")))
        .groupBy("j", "code", "i")
        .agg(expr(s"CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * $P62) AS DECIMAL(38,0))) AS DOUBLE)")
          .as("sx"), count(lit(1)).as("n"))
        .select(col("j"), col("code"), col("i"), expr(s"sx / n / $P62").as("m"))
        .groupBy("j", "code")
        .agg(array_sort(collect_list(struct(col("i"), col("m")))).getField("m").as("c"))
        .select(col("j"), col("code"), expr("transform(c, x -> CAST(x AS FLOAT))").as("centroid"))
      cb = cb.localCheckpoint() // cut the growing lineage, like AnnIndex.kmeans
    }
    cb
  }

  /** Nearest codebook entry per (vector, subspace) — broadcast join on
    * the subspace key, native codegen'd sq_distance, argmin via the
    * min-of-struct trick (code is the deterministic tiebreak).
    */
  private def nearestCode(subv: DataFrame, cb: DataFrame): DataFrame =
    subv.join(broadcast(cb), Seq("j"))
      .withColumn("d", expr("sq_distance(sub, centroid)"))
      .groupBy("vec_id", "j")
      .agg(min(struct(col("d"), col("code"))).as("best"))
      .select(col("vec_id"), col("j"), col("best.code").as("code"))

  /** PQ-encode the corpus: (vec_id, codes array<int> of length m,
    * ordered by subspace). The working representation for ADC joins;
    * [[packCodes]] is the stored-index form that realizes the byte
    * claim.
    */
  def encode(embeddings: DataFrame, cb: DataFrame, dim: Int, m: Int): DataFrame = {
    val subv = subvectors(embeddings.select(col("vec_id"), col("embedding")),
      "embedding", dim, m)
    nearestCode(subv, cb)
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("j"), col("code"))))
        .getField("code").as("codes"))
  }

  /** The STORED index layout: codes bit-packed into a binary column —
    * one hex nibble per code at ksub ≤ 16 (m/2 literal bytes per
    * vector; m=16 → 8 bytes, 32× under 64 float32s). Pure codegen'd
    * string/bit ops, no UDF.
    */
  def packCodes(codes: DataFrame, ksub: Int): DataFrame = {
    require(ksub <= 16, s"nibble packing needs ksub <= 16, got $ksub")
    codes.select(col("vec_id"),
      unhex(concat_ws("",
        expr("transform(codes, c -> substring('0123456789abcdef', c + 1, 1))")))
        .as("packed"))
  }

  /** IVF-PQ: the composed billion-vector layout — IVF centroids prune
    * WHICH vectors are scored (nprobe buckets per query), PQ codes cut
    * the BYTES per scored vector, ADC scores without decoding. The
    * coarse assignment and the code join both ride broadcast hash
    * joins; the corpus shuffles only once, to co-locate (cluster,
    * codes) — the layout a real index would already be stored in.
    */
  def ivfpqSearch(corpus: DataFrame, centroids: DataFrame, cb: DataFrame,
                  queries: DataFrame, dim: Int, m: Int,
                  nprobe: Int, topK: Int): DataFrame = {
    val assigned = AnnIndex.assign(corpus, centroids)
    val coded = encode(corpus, cb, dim, m).join(assigned, "vec_id")
    val qProbes = queries.crossJoin(broadcast(centroids))
      .withColumn("d", expr("sq_distance(q_vec, centroid)"))
      .groupBy("q_id")
      .agg(slice(array_sort(collect_list(struct(col("d"), col("cluster")))), 1, nprobe)
        .as("top"))
      .select(col("q_id"), explode(col("top.cluster")).as("cluster"))
    val qtable = subvectors(queries.select(col("q_id").as("vec_id"), col("q_vec")),
      "q_vec", dim, m)
      .select(col("vec_id").as("q_id"), col("j"), col("sub").as("qsub"))
      .join(cb, Seq("j"))
      .select(col("q_id"), col("j"), col("code"),
        expr("sq_distance(qsub, centroid)").as("pd"))
    val partials = coded.join(broadcast(qProbes), Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), posexplode(col("codes")).as(Seq("j", "code")))
      .join(broadcast(qtable), Seq("q_id", "j", "code"))
    adcTopK(partials, topK)
  }

  /** ADC top-k: queries (q_id, q_vec) against the ENCODED corpus.
    * The distance table (q_id, j, code) → partial distance is
    * nq·m·ksub rows — query-side tiny, broadcast; approximate distance
    * per (query, vector) is a map-side-combinable SUM of m lookups.
    */
  def adcSearch(codes: DataFrame, cb: DataFrame, queries: DataFrame,
                dim: Int, m: Int, topK: Int): DataFrame = {
    val qsub = subvectors(queries.select(col("q_id").as("vec_id"), col("q_vec")),
      "q_vec", dim, m)
      .select(col("vec_id").as("q_id"), col("j"), col("sub").as("qsub"))
    val table = qsub.join(cb, Seq("j"))
      .select(col("q_id"), col("j"), col("code"),
        expr("sq_distance(qsub, centroid)").as("pd"))
    val exploded = codes.select(col("vec_id"), posexplode(col("codes")).as(Seq("j", "code")))
    val partials = exploded.join(broadcast(table), Seq("j", "code"))
      .filter(col("vec_id") =!= col("q_id"))
    adcTopK(partials, topK)
  }

  /** The topK smallest ADC distances per query over (q_id, vec_id, pd)
    * partial-distance rows: (q_id, vec_id, adist, rn).
    */
  private def adcTopK(partials: DataFrame, topK: Int): DataFrame = {
    val adist = partials.groupBy("q_id", "vec_id")
      // order-free exact sum of the m partial distances: each pd is
      // floored onto the 2^-40 grid (exponent-shift multiply, exact)
      // so the DECIMAL sum is partition-order independent — a raw
      // double SUM could flap a near-tie's rank across runs, and a
      // display-precision round() before selection is the tie trap.
      .agg(expr(s"CAST(SUM(CAST(FLOOR(pd * $P40) AS DECIMAL(38,0))) AS DOUBLE) / $P40")
        .as("adist"))
    // negate: the bounded heap keeps TOP scores; negate back after
    graft.functions.TopKByScore.top(
      adist.select(col("q_id"), col("vec_id"), (-col("adist")).as("score")),
      "q_id", "vec_id", "score", topK)
      .select(col("q_id"), col("vec_id"), (-col("score")).as("adist"), col("rn"))
  }
}
