package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sign-random-projection (SRP) LSH over the embedding column — the
  * TRAINING-FREE alternative to the kmeans IVF index: bucket = the
  * nbits-bit sign pattern of fixed pseudo-random hyperplane
  * projections. P(bit collision) = 1 − θ/π for angle θ, so cosine-close
  * vectors share band values with high probability. No index build
  * pass, no centroid state — the signature is a pure function of the
  * vector, which also makes it incrementally maintainable (a streaming
  * corpus can bucket new vectors without touching old ones).
  *
  * Scale shape: signatures are one broadcast-crossJoin projection pass
  * (nbits tiny rows per vector, codegen'd dot_product) + a map-side
  * combinable groupBy; candidate generation joins on exact band values
  * (hash join, bucket-capped like the text-LSH family); verification is
  * exact cosine on candidates only.
  */
object SrpLsh {

  /** Deterministic hyperplanes: dim×nbits Gaussian coordinates from a
    * fixed seed (index identity — two runs, or the corpus and query
    * sides, must derive identical planes).
    */
  def hyperplanes(dim: Int, nbits: Int, seed: Long = 42L): Seq[(Int, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until nbits).map(i => i -> Seq.fill(dim)(rnd.nextGaussian().toFloat))
  }

  /** (vec_id, bucket) — a SINGLE nbits-bit SRP signature per vector
    * (nbits ≤ 63: the bucket is one long; for larger signatures use
    * `bandedSignatures`, which never packs more than bandBits bits into
    * one value), as a PURE PROJECTION: every hyperplane is a typed
    * literal and each bit is a codegen'd dot_product sign test, folded
    * into the bucket with plain arithmetic. No explode, no groupBy —
    * the signature pass moves zero rows, which is the shape that
    * matters when the corpus is 100 TB (an explode+regroup formulation
    * would shuffle the corpus once just to build signatures).
    */
  def signatures(corpus: DataFrame, vecCol: String, dim: Int, nbits: Int): DataFrame = {
    require(nbits > 0 && nbits <= 63,
      s"signatures packs bits into one long — nbits must be in [1, 63], got $nbits" +
        " (bandedSignatures has no such limit)")
    val bucket = hyperplanes(dim, nbits).map { case (i, p) =>
      when(call_function("dot_product", col(vecCol), typedlit(p)) > 0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    corpus.select(col("vec_id"), bucket.as("bucket"))
  }

  /** (vec_id, band_i, band_v) — per-band SRP values for multi-probe
    * candidate generation (two vectors within a small angle share at
    * least one exact band with high probability). Each band is built
    * DIRECTLY from its own bandBits sign tests — never packed through a
    * single 64-bit signature — so corpus-adaptive sizing can grow
    * nBands × bandBits past 64 bits without wrapped shifts silently
    * corrupting band values (Long shifts wrap mod 64; bandBits itself
    * must stay ≤ 62).
    */
  def bandedSignatures(corpus: DataFrame, vecCol: String, dim: Int,
                       nbits: Int, bandBits: Int): DataFrame = {
    require(bandBits > 0 && bandBits <= 62, s"bandBits must be in [1, 62], got $bandBits")
    val nBands = nbits / bandBits
    val planes = hyperplanes(dim, nBands * bandBits)
    val bandCols = (0 until nBands).map { b =>
      (0 until bandBits).map { j =>
        val (_, p) = planes(b * bandBits + j)
        when(call_function("dot_product", col(vecCol), typedlit(p)) > 0,
             lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    corpus.select(col("vec_id"),
      posexplode(array(bandCols: _*)).as(Seq("band_i", "band_v")))
  }

  /** Corpus-scale near-dup pairs: self-join the banded signatures on
    * exact band values (with the standard oversized-bucket cap — a
    * degenerate corpus of identical vectors must not go quadratic),
    * then exact cosine ≥ tau on candidates. Training-free twin of
    * AnnIndex.nearDupPairs, and the embedding analogue of the
    * simhash64 text path.
    */
  /** Band width must SCALE WITH THE CORPUS: expected bucket occupancy
    * is n / 2^bandBits regardless of band count, so a fixed narrow band
    * overflows the oversized-bucket cap as n grows (at n=5000 a 4-bit
    * band means 312-row buckets — the cap would drop every bucket and
    * emit zero pairs). Auto-size bandBits so uniform occupancy sits at
    * ~cap/2, keep a fixed band count for the OR-recall. The recall/tau
    * tradeoff is intrinsic to SRP: wider bands collide less for distant
    * pairs, so this path is sharpest for genuinely-near duplicates
    * (high tau); low-tau sweeps belong to the IVF variant.
    */
  def nearDupPairs(corpus: DataFrame, dim: Int, tau: Double,
                   nBands: Int = 8,
                   maxBucket: Int = graft.operators.Dedup.MaxBucket): DataFrame = {
    val n = math.max(1L, corpus.count())
    val bandBits = math.max(4,
      math.ceil(math.log(n / (maxBucket / 2.0)) / math.log(2)).toInt)
    val nbits = nBands * bandBits
    // persisted: the banded signatures feed the cap blacklist AND both
    // self-join sides (the LSH-family three-reads shape); released once
    // the (small) pair list materializes
    val banded = bandedSignatures(corpus, "embedding", dim, nbits, bandBits).persist()
    val bands = graft.operators.Dedup.capBuckets(banded, Seq("band_i", "band_v"), maxBucket)
    val cand = bands.as("a")
      .join(bands.as("b"),
            col("a.band_i") === col("b.band_i") && col("a.band_v") === col("b.band_v") &&
              col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
    graft.operators.Materialize(VectorOps.verifyPairs(cand, corpus, tau), banded)
  }

  /** Top-k by cosine probing band-sharing corpus vectors only. Queries
    * are a tiny relation: their banded signatures broadcast against the
    * corpus signatures (hash join on (band_i, band_v)); candidates
    * dedup and verify with exact cosine; top-k is the bounded-heap
    * partial aggregate.
    */
  def search(corpus: DataFrame, queries: DataFrame, dim: Int, topK: Int,
             nBands: Int = 8, bandBitsOverride: Option[Int] = None): DataFrame = {
    // same corpus-adaptive band width as nearDupPairs: a fixed narrow
    // band means each query probes n / 2^bandBits corpus rows per band —
    // a constant FRACTION of the corpus, degenerating to brute force as
    // n grows. Sizing bandBits with log2(n) keeps per-band probe counts
    // roughly constant.
    val bandBits = bandBitsOverride.getOrElse {
      val n = math.max(1L, corpus.count())
      math.max(4, math.ceil(math.log(n / 32.0) / math.log(2)).toInt)
    }
    val nbits = nBands * bandBits
    val corpusBands = bandedSignatures(corpus, "embedding", dim, nbits, bandBits)
    val queryBands = bandedSignatures(
      queries.select(col("q_id").as("vec_id"), col("q_vec").as("embedding")),
      "embedding", dim, nbits, bandBits)
      .withColumnRenamed("vec_id", "q_id")
    val cand = corpusBands.join(broadcast(queryBands), Seq("band_i", "band_v"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
    val scored = cand
      .join(queries, "q_id")
      .join(corpus, "vec_id")
      .withColumn("cos", expr("cosine_similarity(q_vec, embedding)"))
    graft.functions.TopKByScore.top(scored, "q_id", "vec_id", "cos", topK)
  }
}
