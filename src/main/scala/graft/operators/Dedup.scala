package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family for training-data pipelines: exact hash dedup,
  * MinHash+LSH near-dup, SimHash, and n-gram Jaccard.
  *
  * Scale design (SURVEY §5): LSH candidate generation is the only
  * all-pairs-shaped step and it never goes O(n²) — docs meet only inside
  * (band, min-hash) buckets; verification runs on candidate pairs only.
  * Hashing uses md5 (identical across engines) so every step is
  * oracle-checkable in DuckDB.
  */
object Dedup extends QueryModule {

  /** b bands × r rows: a pair becomes a candidate iff BOTH minhashes of
    * some band agree — P(candidate) = 1-(1-j^r)^b, so at j=0.5 recall is
    * ~0.90 while the j≈0.05 noise floor (which r=1 banding admitted by
    * the hundreds) almost never collides.
    */
  private val Bands = 8
  private val Rows = 2
  private val JaccardTau = 0.5

  /** Bucket-size cap: a (band, minhash) bucket with more than this many
    * docs is degenerate (near-empty docs, boilerplate, exact-dup mass
    * that d_dedup_exact should remove first) and would make the
    * candidate self-join quadratic in the bucket size. Dropping the
    * bucket keeps candidate generation linear; genuine near-dup pairs
    * still meet in their other `Bands − 1` bands.
    */
  val MaxBucket = 64

  /** Drop every row belonging to an oversized bucket (more than
    * `maxBucket` rows sharing `keys`). Shared by the MinHash-LSH and
    * SimHash band joins: the cap is a broadcast anti-join against the
    * (tiny, near-empty on healthy corpora) blacklist of oversized bucket
    * keys — the count aggregate is map-side combined and ships only
    * (keys..., n) tuples, so the banded relation itself never shuffles
    * for the cap. A window count would instead force hashpartitioning on
    * the full relation even when the candidate join broadcasts.
    */
  def capBuckets(df: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) df
    else {
      val oversized = df.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") > maxBucket)
        .select(keys.map(col): _*)
      df.join(broadcast(oversized), keys, "left_anti")
    }

  /** distinct 3-word shingles of `text` (whole text if < 3 tokens).
    * Formulated as slice+zip_with — never index the token array inside a
    * lambda (`element_at(split(text), i)` re-splits per element, turning
    * shingling O(tokens²)).
    */
  private val shinglesExpr =
    """CASE WHEN size(split(text, ' ')) >= 3
      |THEN array_distinct(
      |  zip_with(
      |    zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 2),
      |             slice(split(text, ' '), 2, size(split(text, ' ')) - 2),
      |             (a, b) -> concat(a, ' ', b)),
      |    slice(split(text, ' '), 3, size(split(text, ' ')) - 2),
      |    (ab, c) -> concat(ab, ' ', c)))
      |ELSE array(text) END""".stripMargin

  private val shinglesSqlDuck =
    """CASE WHEN len(string_split(text,' ')) >= 3
      |THEN list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - 2),
      |     i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
      |ELSE [text] END""".stripMargin

  /** Char-4-gram set of `text`; the sequence bound is clamped so texts
    * shorter than 4 chars yield their whole text as the single gram
    * instead of an illegal sequence(1, n<1) boundary error.
    */
  private val gramsExpr =
    "array_distinct(transform(sequence(1, greatest(length(text) - 3, 1)), i -> substring(text, i, 4)))"

  private val gramsSqlDuck =
    """list_distinct(list_transform(generate_series(1, greatest(length(text) - 3, 1)),
      |    i -> substr(text, i, 4)))""".stripMargin

  /** (doc_id, sh) shingle frame for any (doc_id, text) documents frame.
    *
    * The shingle + 4×md5 projection downstream is the CPU hot spot of
    * the whole dedup family; a small corpus arriving as one parquet
    * split would run it on a single core. Widen to cluster parallelism
    * ONLY when the scan is narrower than that — a 100 TB corpus already
    * has thousands of splits and must not pay a raw-text shuffle.
    */
  def shingles(docs: DataFrame): DataFrame =
    Par.widen(docs, col("doc_id")).select(col("doc_id"), expr(shinglesExpr).as("sh"))

  /** (doc_id, g) char-4-gram frame for any (doc_id, text) frame; safe on
    * texts shorter than 4 chars (clamped sequence bound).
    */
  def charGrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(gramsExpr).as("g"))

  /** Banded minhash signature table (doc_id, j, mh) for a (doc_id, sh)
    * shingle frame, PERSISTED: it is read three times (blacklist
    * aggregate + both self-join sides) and without a shuffle between
    * them Catalyst cannot reuse the subtree, so the md5 chain would run
    * 3×. 8 (doc_id, tinyint, 32-char) rows per doc ≪ the raw corpus —
    * the standard LSH signature-table materialization at any scale.
    * Callers that own the pipeline release it via `Materialize`;
    * spec/plan-audit callers rely on the context cleaner.
    *
    * 16 minhash functions come from FOUR md5s per shingle: 4×32 hex
    * chars give exactly 16 disjoint 8-hex chunks, each an independent
    * uniform 32-bit hash. Shingles explode to rows so hashing and the 16
    * mins run as codegen'd projections + hash aggregate (map-side
    * combined) instead of interpreted array lambdas — the shape that
    * survives 100 TB.
    */
  def bandedSignatures(shingled: DataFrame): DataFrame = {
    val hashed = shingled
      .select(col("doc_id"), explode(col("sh")).as("x"))
      .select(col("doc_id"),
              concat((0 until 4).map(s =>
                md5(concat(lit(s"$s|"), col("x")))): _*).as("y"))
    // min NUMERICALLY, not over the hex strings (r16): 16 string-min
    // buffers are not hash-aggregate-compatible, so the old
    // min(substring(y, ...)) forced a Sort + SortAggregate over the
    // ENTIRE exploded hashed corpus (the plan's dominant operator —
    // the xxhash64 twin never paid it). Fixed-length lowercase-hex
    // order IS numeric order, so min(conv(chunk, 16) AS BIGINT)
    // selects the identical minhash, runs as a map-side-combining
    // HashAggregate with fixed-width buffers, and the band hash below
    // reconstructs the exact original chunk via lower(lpad(hex(v)))
    // — a lossless inverse, so signatures, bands, and the candidate
    // set are byte-identical to the old form (and to the DuckDB
    // oracle's md5 chain).
    val minCols = (0 until Bands * Rows).map { i =>
      min(expr(s"CAST(conv(substring(y, ${1 + 8 * i}, 8), 16, 10) AS BIGINT)"))
        .as(s"h$i")
    }
    val mins = hashed.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
    val bandCols = (0 until Bands).map { j =>
      md5(concat((0 until Rows).map(k =>
        expr(s"lower(lpad(hex(h${j * Rows + k}), 8, '0'))")): _*))
    }
    mins.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("j", "mh")))
      .persist()
  }

  /** Candidate pairs (doc_a < doc_b) from a persisted banded-signature
    * frame, with the bucket-size cap applied.
    */
  private def candidatesFrom(bands: DataFrame, maxBucket: Int): DataFrame = {
    val capped = capBuckets(bands, Seq("j", "mh"), maxBucket)
    capped.as("a")
      .join(capped.as("b"),
            col("a.j") === col("b.j") && col("a.mh") === col("b.mh") &&
              col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** LSH candidate pairs over a (doc_id, sh) shingle frame. Public so
    * the n-gram Jaccard verifier, specs, and the plan audit run on the
    * same (lazy) candidate plan.
    */
  def lshCandidates(shingled: DataFrame, maxBucket: Int = MaxBucket): DataFrame =
    candidatesFrom(bandedSignatures(shingled), maxBucket)

  /** xxhash64 twin of `bandedSignatures` — the PRODUCTION hash path.
    * md5 exists for cross-engine oracle checkability; at corpus scale
    * the hash chain is the dedup family's CPU hot spot and xxhash64
    * (codegen'd, non-cryptographic) runs several times faster. 16
    * independent minhash functions come from 16 seeds; band keys hash
    * the band's minhashes together. Same (doc_id, j, mh) shape, so the
    * capped candidate join is shared.
    */
  def bandedSignatures64(shingled: DataFrame): DataFrame = {
    val hashed = shingled.select(col("doc_id"), explode(col("sh")).as("x"))
    val minCols = (0 until Bands * Rows).map { i =>
      min(xxhash64(lit(i), col("x"))).as(s"h$i")
    }
    val mins = hashed.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
    val bandCols = (0 until Bands).map { j =>
      xxhash64((0 until Rows).map(k => col(s"h${j * Rows + k}")): _*)
    }
    mins.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("j", "mh")))
      .persist()
  }

  /** Per-ROW xxhash64 banded signatures: the same (doc_id, j, mh) rows
    * as [[bandedSignatures64]] but computed with array lambdas instead
    * of explode+groupBy, so the whole thing is a STATELESS projection —
    * the shape a streaming intake needs (no aggregation state, no
    * watermark; see CorpusStreaming.minhashBucketize). Batch callers
    * should prefer bandedSignatures64: the explode+hash-aggregate form
    * map-side combines and keeps hashing in codegen, while lambda
    * evaluation is interpreted per element. Parity with the batch path
    * is pinned row-for-row by CorpusStreamingSpec (seeds, band
    * grouping, and hash argument types must stay identical here and
    * there).
    */
  def bandedSignaturesRowwise(docs: DataFrame): DataFrame = {
    val withSh = docs.select(col("doc_id"), expr(shinglesExpr).as("sh"))
    val minCols = (0 until Bands * Rows).map { i =>
      expr(s"array_min(transform(sh, x -> xxhash64($i, x)))").as(s"h$i")
    }
    val mins = withSh.select(col("doc_id") +: minCols: _*)
    val bandCols = (0 until Bands).map { j =>
      xxhash64((0 until Rows).map(k => col(s"h${j * Rows + k}")): _*)
    }
    mins.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("j", "mh")))
  }

  private def verify(cands: DataFrame, sh: DataFrame): DataFrame =
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= JaccardTau)

  /** Full MinHash-LSH near-dup pipeline over a (doc_id, text) frame:
    * candidates (capped buckets) → exact Jaccard ≥ τ on shingle sets.
    * The shingle frame is persisted only because it is read twice
    * (signatures + verification); at 100 TB this becomes a
    * recompute-vs-persist decision per corpus — MEMORY_AND_DISK default
    * degrades gracefully either way. Both intermediates are released
    * once the (small) pair list is materialized.
    */
  def minhashLsh(docs: DataFrame, maxBucket: Int = MaxBucket): DataFrame = {
    val sh = shingles(docs).persist()
    val bands = bandedSignatures(sh)
    val verified = verify(candidatesFrom(bands, maxBucket), sh)
    Materialize(verified, bands, sh)
  }

  /** [[minhashLsh]] / [[minhashLsh64]] over a CALLER-OWNED persisted
    * (doc_id, sh) shingle frame — for pipelines that already hold one
    * (prepareWeb derives its probe threshold from the same frame, so
    * sharing saves a full corpus shingle pass). The caller persists
    * and releases `sh`; only the banded intermediate is released here.
    */
  def minhashLshOn(sh: DataFrame, oracleHash: Boolean,
                   maxBucket: Int = MaxBucket): DataFrame = {
    val bands = if (oracleHash) bandedSignatures(sh) else bandedSignatures64(sh)
    val verified = verify(candidatesFrom(bands, maxBucket), sh)
    Materialize(verified, bands)
  }

  /** Production-hash variant of `minhashLsh` (xxhash64 signatures, same
    * banding, same bucket cap, same exact-Jaccard verification). The
    * verification criterion is identical — only which candidate pairs
    * surface can differ (independent minhash samplings each have
    * ~1-(1-j^r)^b recall), so DedupLsh64Spec asserts pair-set parity on
    * the test corpus rather than a DuckDB oracle.
    */
  def minhashLsh64(docs: DataFrame, maxBucket: Int = MaxBucket): DataFrame = {
    val sh = shingles(docs).persist()
    val bands = bandedSignatures64(sh)
    val verified = verify(candidatesFrom(bands, maxBucket), sh)
    Materialize(verified, bands, sh)
  }

  /** Banded simhash64 frame (doc_id, h, band_i, band_v): native
    * codegen'd 64-bit shingle-level simhash, split into 4×16-bit bands —
    * a pair within hamming distance 3 shares at least one exact band.
    * Persisted for the same three-reads reason as `bandedSignatures`.
    */
  def simhash64Bands(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(shinglesExpr).as("sh"))
      .selectExpr("doc_id", "simhash64(sh) AS h")
      .select(col("doc_id"), col("h"),
        posexplode(expr("transform(sequence(0, 3), i -> (h >> (i * 16)) & 65535)"))
          .as(Seq("band_i", "band_v")))
      .persist()

  /** Near-dup pairs (hamming ≤ 6) from a banded simhash64 frame. The
    * (band_i, band_v) self-join gets the SAME oversized-bucket cap as
    * the LSH sibling: a corpus with mass near-identical simhashes would
    * otherwise go quadratic inside one band bucket (exact-dup mass is
    * d_dedup_exact's job).
    */
  def simhash64PairsFrom(bands: DataFrame, maxBucket: Int = MaxBucket): DataFrame = {
    val capped = capBuckets(bands, Seq("band_i", "band_v"), maxBucket)
    capped.as("a").join(capped.as("b"),
        col("a.band_i") === col("b.band_i") && col("a.band_v") === col("b.band_v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
              expr("bit_count(a.h ^ b.h)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
  }

  /** At-scale simhash dedup pipeline over a (doc_id, text) frame;
    * materializes the pair list and releases the banded intermediate.
    */
  def simhash64Pairs(docs: DataFrame, maxBucket: Int = MaxBucket): DataFrame = {
    val bands = simhash64Bands(docs)
    Materialize(simhash64PairsFrom(bands, maxBucket), bands)
  }

  /** Shingle-set containment ≥ τ on the LSH candidate pairs — the
    * asymmetric near-dup measure (|A∩B| / min(|A|,|B|)): a short doc
    * fully embedded in a long one scores ≈ 1 while its Jaccard stays
    * small. Same candidate generation (banded minhash, capped buckets)
    * as the rest of the family, so the recall floor is the LSH curve at
    * the pair's JACCARD — excerpt pairs below the τ_J collision knee
    * need the dedicated containment-LSH variant a real pipeline would
    * tune for (documented limit, ContainmentSpec pins both sides).
    */
  def containmentPairs(docs: DataFrame, tau: Double = 0.5,
                       maxBucket: Int = MaxBucket): DataFrame = {
    val sh = shingles(docs).persist()
    val bands = bandedSignatures(sh)
    val containment =
      round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        least(size(col("sh_a")), size(col("sh_b"))), 4)
    val out = candidatesFrom(bands, maxBucket)
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), containment.as("containment"))
      .filter(col("containment") >= tau)
    Materialize(out, bands, sh)
  }

  /** Containment-COMPLETE candidate generation for SHORT documents —
    * the dedicated variant [[containmentPairs]]'s scaladoc documents as
    * the banded path's limit: an excerpt fully embedded in a long doc
    * has containment ≈ 1 but Jaccard below the LSH collision knee, so
    * banded candidates miss it with probability 1−(1−j^r)^b. The
    * prefix-filtering observation (Bayardo et al., WWW'07 "Scaling Up
    * All Pairs Similarity Search") fixes recall for short probes: any
    * pair with containment ≥ τ > 0 shares at least ONE shingle, so
    * probing a corpus shingle INDEX with every shingle of a short doc
    * is a COMPLETE candidate set — recall 1 by construction, subject
    * only to the shared hot-shingle cap (boilerplate grams dropped on
    * BOTH sides, documented like every capBuckets user).
    *
    * Cost shape: the probe side is bounded by the size threshold (≤
    * `maxShingles` keys per probe doc); the index side is the same
    * (doc, shingle) explode every dedup pipeline already materializes,
    * capped so no key joins more than `maxBucket` docs. Verification
    * is the exact ASYMMETRIC containment |A∩B| / |A| (A the probe) on
    * candidates only — computed FROM the already-exploded (doc_id, g)
    * frame, never by re-materializing either side's shingle ARRAY:
    * the candidate pairs fan out by the probe's own grams (≤
    * `maxShingles` rows each), each (doc_b, g) membership-checks
    * against the exploded corpus with a semi join, and the survivor
    * count IS |A∩B| because shingle sets are distinct. The only
    * persisted frame is the COMPACT shingle-array one (explodes derive
    * from it lazily per use — row-form caching measured ~3× the array
    * footprint and OOMed the single-JVM heap at 1000×); the wide
    * per-pair array re-join the old formulation ran on BOTH verify
    * sides (the 48 GiB stretch-heap cell at 100×) never exists. Long
    * docs keep the banded path: for them the probe join would fan out
    * by document length, which is exactly what the threshold excludes.
    */
  def containmentProbePairs(docs: DataFrame, tau: Double = 0.5,
                            maxShingles: Int = 20,
                            maxBucket: Int = MaxBucket): DataFrame =
    // cache ONLY the probe slice — bounded by the short-doc contract.
    // Caching the corpus-side shingles in ANY form was measured to kill
    // the 8 GiB single-JVM heap at 1000×: the exploded row form is ~3×
    // the arrays' footprint, the array form's protected storage floor
    // starves the joins' execution memory, and even DISK_ONLY dies in
    // the columnar batch build. The corpus instead pays two extra
    // STREAMING shingle passes (the `relevant` restriction and the
    // `bGrams` verify slice below — both reduce to small frames
    // immediately), which is linear scan work that needs no memory at
    // any scale; shingling here is a zip_with over the token array, not
    // the md5 chain the LSH family caches to avoid recomputing.
    containmentProbePairsOn(shingles(docs), tau, maxShingles, maxBucket)

  /** [[containmentProbePairs]] over a CALLER-OWNED (doc_id, sh) shingle
    * frame — for pipelines that already hold a PERSISTED one (prepareWeb
    * shares its exSh between the probe-threshold derivation, the LSH
    * arm, and this probe; r16: the probe re-shingled the corpus on its
    * own three streaming passes even though the identical frame sat in
    * the block store). The standalone d_containment_probe entry keeps
    * the uncached streaming form above: its 1000×-sweep memory
    * discipline (scaladoc) still holds when NO caller persists the
    * corpus shingles. Semantics are identical either way — `sh` here is
    * exactly `shingles(docs)`, lazy or cached. The caller persists and
    * releases `sh`; only the probe slice is released here.
    */
  def containmentProbePairsOn(sh: DataFrame, tau: Double = 0.5,
                              maxShingles: Int = 20,
                              maxBucket: Int = MaxBucket,
                              knownProbeCount: Long = -1L): DataFrame = {
    val exploded = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    val probeSh = sh.filter(size(col("sh")) <= maxShingles).persist()
    // restrict the corpus to the PROBE GRAM SET before anything wide:
    // only grams that can ever meet a probe matter to candidate
    // generation OR to the hot-gram cap (a capped gram that never joins
    // a probe is irrelevant, and restriction by gram VALUE keeps every
    // occurrence of a surviving gram, so its global count — the cap's
    // input — is exact). The restriction is a BROADCAST semi join on
    // the probes' distinct gram HASHES (64-bit longs — ~16× lighter to
    // broadcast than the gram strings; a hash collision only admits
    // extra rows that the exact equi-joins below ignore): without it,
    // both the cap's groupBy and the candidate join shuffle the FULL
    // exploded corpus (~25 GB of spill each at 1000×, measured to
    // exhaust the sweep host's disk); with it they shuffle only the
    // probe-relevant slice. The broadcast is bounded by probes ×
    // maxShingles — the short-doc contract — and is SKIPPED when the
    // probe set approaches the corpus itself (prepareWeb's wide
    // threshold over an all-short gate corpus): in that regime the
    // restriction cannot shrink anything, so the plain exploded frame
    // flows to the (then inherently corpus-wide) index build instead
    // of a corpus-sized broadcast.
    // the count is only a bound/partitioning input (never semantics);
    // callers whose threshold derivation already knows the probe-slice
    // cardinality pass it down (prepareWeb: the cumulative count at the
    // derived threshold) instead of paying a count action here
    val nProbes = if (knownProbeCount >= 0) knownProbeCount else probeSh.count()
    // Per-task shuffle state is the 1000× single-JVM ceiling: the
    // candidate join + PPJoin count aggregate sort/aggregate the
    // restricted exploded corpus, and at the default 32 shuffle
    // partitions each of the 32 concurrent tasks holds ~1/32 of a
    // ~450M-row frame in the ONE shared 8 GiB unified region
    // (measured: the r13 cell needed a 48g stretch heap). Raising the
    // INITIAL shuffle partition count shrinks per-task state
    // proportionally while AQE coalesces small post-shuffle reads
    // back, so small corpora pay nothing; partitioning is
    // semantics-free, so the gate hash is untouched. Scaled by the
    // probe count (the corpus-side explode grows with the probe set
    // it is restricted to), capped — a real cluster sizes this by
    // executor count instead.
    // ...but more initial partitions alone are NOT enough on one JVM:
    // AQE coalesces shuffle partitions by COMPRESSED size, and the
    // exploded (doc_id, gram) relation is repetitive text that lz4
    // squeezes ~30× — a "64 MB" coalesced partition is a ~30M-row
    // sort (measured: the default-advisory run coalesced the
    // candidate-join exchange to 14 tasks whose pointer arrays alone
    // wanted 256 MB pages, and the 8 GiB heap returned "got 0"). The
    // advisory size is scoped down so a coalesced partition's RAW
    // sort state stays task-sized; on a real cluster per-executor
    // regions make the default fine, which is why this is scoped to
    // the operator instead of the session.
    val spark = sh.sparkSession
    val initKey = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val advKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prevInit = spark.conf.getOption(initKey)
    val prevAdv = spark.conf.getOption(advKey)
    val probeParts = math.min(4096L,
      math.max(spark.sessionState.conf.numShufflePartitions.toLong, nProbes / 64))
    spark.conf.set(initKey, probeParts.toString)
    if (probeParts > 64) spark.conf.set(advKey, "4m")
    try {
    // EAGERLY checkpointed: `relevant` feeds capBuckets (whose
    // oversized-key broadcast subquery re-instantiates its input), the
    // candidate join's BOTH sides, and the verify chain — without the
    // lineage cut, every one of those re-derives the corpus scan plus
    // its widening Exchange (measured: 25 copies of the raw-corpus
    // shuffle in one plan, ~70 GB of shuffle spill at 1000× — a disk
    // failure no heap size fixes). With it the corpus is scanned
    // exactly three times (probe slice, this restriction, the verify
    // slice), each written once. DISK_ONLY checkpoint storage: the
    // default MEMORY_AND_DISK unroll buffers (~7 GB of deserialized
    // rows at 1000×) race the concurrently-materializing AQE stages'
    // aggregation state for the same unified region (measured:
    // AGGREGATE_OUT_OF_MEMORY at 1000× on the default heap), while the
    // disk form streams out serialized and re-reads at scan speed.
    // The restriction only removes rows the candidate equi-joins would
    // ignore, so both branches yield identical pairs (measured at
    // 1000×: skipping it cost 1.35× wall time and ~36 GB of spill).
    val relevant =
      (if (nProbes * maxShingles <= Bounded.Rows) {
        val probeGramHashes = probeSh.select(explode(col("sh")).as("pg"))
          .select(xxhash64(col("pg")).as("gh")).distinct()
        exploded.withColumn("gh", xxhash64(col("g")))
          .join(broadcast(probeGramHashes), Seq("gh"), "left_semi")
          .drop("gh")
      } else exploded).localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val idx = capBuckets(relevant, Seq("g"), maxBucket)
    val probes = idx
      .join(probeSh.select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("doc_a"), col("g"))
    // PPJoin-style COUNT filter (Xiao et al., WWW'08, the standard
    // companion to Bayardo's prefix filter): the candidate join emits
    // one row per shared UNCAPPED gram, so its per-pair count is
    // exactly |A_uncapped ∩ B| — capping drops a hot gram's rows from
    // BOTH sides, so a B-side occurrence of an uncapped gram always
    // survives. |A∩B| can exceed that count only by A's own capped
    // grams (nsh − a_capped of them), giving a sound upper bound to
    // prune on: on a vocabulary-dense corpus almost every probe shares
    // SOME gram with thousands of docs (measured: the unpruned
    // candidate doc_b set reached ~60 % of the corpus at 1000× and its
    // verification sort spilled ~75 GB), but pairs that can still
    // reach tau are ~the true near-dups.
    val candCounts = probes
      .join(idx.select(col("doc_id").as("doc_b"), col("g")), "g")
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c_capped"))
    val aStats = probes.groupBy("doc_a").agg(count(lit(1)).as("a_capped"))
      .join(probeSh.select(col("doc_id").as("doc_a"),
        size(col("sh")).cast("bigint").as("nsh")), "doc_a")
    // EAGER checkpoint, like `relevant`: the plausible pair list is
    // read by BOTH the hot-residual chain and the final projection —
    // without the cut the heavy candidate join + PPJoin aggregate
    // re-derive twice — and its (small, post-prune) size is what the
    // residual's broadcast decision below is made from.
    val plausible = candCounts.join(aStats, "doc_a")
      .filter((col("c_capped") + (col("nsh") - col("a_capped"))).cast("double")
        / col("nsh") >= tau)
      .localCheckpoint(true)
    // exact residual — only A's HOT (capped) grams are uncounted, and
    // only for probes that lost grams to the cap at all: membership-
    // check those few (pair, gram) rows against the corpus slice of
    // the plausible doc_bs, restricted by a [[Bounded]] semi join: on a
    // pathological corpus where most plausible pairs involve capped
    // probe grams that doc_b set is corpus-scale. For the common
    // fully-uncapped probe, c_hot is null and c_capped already IS |A∩B|.
    val hotPairs = plausible.filter(col("a_capped") < col("nsh"))
    // r16: on a healthy corpus NO probe loses grams to the cap, and
    // the whole residual chain (hotB checkpoint + bounded count + the
    // three-way membership join) previously executed anyway just to
    // produce an empty left side. One cheap scan of the plausible
    // CHECKPOINT decides; when some probe IS capped the chain below is
    // exactly the old one.
    val out = if (hotPairs.isEmpty) {
      plausible.select(col("doc_a"), col("doc_b"),
          round(col("c_capped").cast("double") / col("nsh"), 4).as("containment"))
        .filter(col("containment") >= tau)
    } else {
      val hotA = probeSh
        .select(col("doc_id").as("doc_a"), explode(col("sh")).as("g"))
        .join(probes, Seq("doc_a", "g"), "left_anti")
      val hotB = Bounded(hotPairs.select("doc_b").distinct(), Bounded.Rows)
      // NOTE (r16): tried reading this slice from the `relevant`
      // checkpoint instead of re-deriving the explode — measured 3.3 →
      // 10.4 s at sf0.1 and reverted: the doc_id semi join below pushes
      // THROUGH the lazy explode to the docs scan, so this "third pass"
      // only ever shingles the (tiny) hotB doc set, while a checkpoint
      // read scans every probe-relevant gram of every doc.
      val bGramsHot = exploded.select(col("doc_id").as("doc_b"), col("g"))
        .join(hotB.build, Seq("doc_b"), "left_semi")
      val hotShared = hotPairs.select("doc_a", "doc_b")
        .join(hotA, "doc_a")
        .join(bGramsHot, Seq("doc_b", "g"), "left_semi")
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c_hot"))
      plausible
        .join(hotShared, Seq("doc_a", "doc_b"), "left")
        .select(col("doc_a"), col("doc_b"),
          round((col("c_capped") + coalesce(col("c_hot"), lit(0L))).cast("double")
            / col("nsh"), 4).as("containment"))
        .filter(col("containment") >= tau)
    }
    Materialize(out, probeSh)
    } finally {
      prevInit match {
        case Some(v) => spark.conf.set(initKey, v)
        case None => spark.conf.unset(initKey)
      }
      prevAdv match {
        case Some(v) => spark.conf.set(advKey, v)
        case None => spark.conf.unset(advKey)
      }
    }
  }

  /** Chunk-level (C4/RefinedWeb "line-level") dedup: split each doc into
    * fixed `chunkTokens`-token chunks, keep each distinct chunk only in
    * its earliest-doc_id occurrence (first position within that doc),
    * and reassemble the surviving chunks in document order. Docs whose
    * every chunk already appears in an earlier doc vanish entirely —
    * exact-duplicate removal falls out as the degenerate case.
    *
    * Scale shape: explode → two hash aggregates keyed on the chunk text
    * (the owner min and the within-doc first position — both map-side
    * combinable), a join back on the same chunk key (partitioning
    * reused, no extra shuffle), then a per-doc reassembly aggregate.
    * No windows over corpus-wide orderings, no cartesian anywhere; the
    * reassembly sorts only each doc's own surviving chunks (bounded by
    * document length). Output: (doc_id, text, n_chunks).
    */
  def lineDedup(docs: DataFrame, chunkTokens: Int = 10): DataFrame = {
    val chunked = docs.select(col("doc_id"), posexplode(expr(
      s"""transform(sequence(0, (size(split(text, ' ')) - 1) div $chunkTokens),
         |  i -> array_join(slice(split(text, ' '), i * $chunkTokens + 1, $chunkTokens), ' '))""".stripMargin
    )).as(Seq("idx", "chunk")))
    // fresh aliases (kchunk/keep_doc) keep the join self-join-safe: both
    // sides descend from `chunked`, so reusing the `chunk` attribute
    // would be ambiguous
    val keeper = chunked.groupBy(col("chunk").as("kchunk"))
      .agg(min(col("doc_id")).as("keep_doc"))
    val kept = chunked.join(keeper,
        col("chunk") === col("kchunk") && col("doc_id") === col("keep_doc"))
      .select(col("doc_id"), col("idx"), col("chunk"))
    // a chunk repeated WITHIN the keeper doc survives once, at its first
    // position; distinct chunks came from distinct positions, so the
    // per-(doc, chunk) min positions never collide and the struct sort
    // below is a total order
    kept.groupBy("doc_id", "chunk").agg(min(col("idx")).as("idx"))
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("chunk")))),
            x => x.getField("chunk")), " ").as("text"),
        count(lit(1)).as("n_chunks"))
  }

  /** ExactSubstr-style duplicated-SPAN REMOVAL (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 §4.1): every character position whose stride-1
    * `gramLen`-char gram occurs ≥ 2 times in the corpus (across docs OR
    * within one — self-repeats count, as in the paper) is duplicated
    * content; the union of the marked [p, p+L) intervals is CUT from
    * each document and the residual segments re-concatenate in order.
    * This is the REMOVAL counterpart of d_winnow_dedup: winnowing
    * detects which docs share long substrings at ~2/(w+1) fingerprint
    * density; this operator rewrites the text with every duplicated
    * span excised, the operation Lee et al. run with a suffix array.
    *
    * Scale shape (the suffix-array replacement): the corpus-wide
    * exchange is (doc_id, pos, rolling-hash) — 16 bytes per character
    * position, the same order as the paper's 8-bytes-per-position
    * suffix array, NOT the L×-amplified gram strings (the hashes come
    * from the native O(n)-per-doc plans.RollingGramHash kernel, so the
    * strings are never even materialized map-side). The map-side-
    * combined hash count finds duplicated hashes (no false negatives);
    * only the surviving slice — proportional to actual duplication
    * volume, not corpus size — re-derives its raw grams (a
    * broadcast-bounded positions→text join: the corpus text never
    * shuffles while the slice is bounded) for the exact confirm group
    * (collisions die there, so the output is EXACT and hash-free; the
    * d_bloom_prefilter discipline). The duplicated-hash
    * set broadcasts under [[Bounded.Rows]] and falls back to a
    * shuffle semi join past it. Span merging and text rebuild are
    * doc-local: a sorted position list folds left in one `aggregate`
    * lambda (positions ascend, so the merged cut-end only ever moves
    * right — no interval stack). Docs shorter than L have no grams and
    * pass through; a fully-duplicated doc leaves an empty residual
    * (kept, n_removed = length), the paper's degenerate case.
    */
  /** Stride-1 `gramLen`-char gram array of `text` as a SQL expression
    * string (doc-local; callers must pre-filter length(text) >= L —
    * sequence() with start > stop would DESCEND, not return empty).
    */
  private[graft] def strideGramArrayExpr(L: Int): String =
    s"transform(sequence(1, length(text) - ${L - 1}), p -> substring(text, p, $L))"

  /** Cut the union of the marked [pos, pos+L) intervals out of each
    * document and re-concatenate the residual segments in order.
    * `marked` is (doc_id, pos); the merge+rebuild is doc-local — a
    * sorted position list folds left in one `aggregate` lambda
    * (positions ascend, so the merged cut-end only ever moves right:
    * no interval stack). Unmarked docs (left join miss) pass through.
    * Output: (doc_id, text, n_removed).
    */
  private[graft] def cutMarkedSpans(docs: DataFrame, marked: DataFrame, L: Int): DataFrame = {
    // per-doc position list is bounded by document length — the same
    // doc-local state class as lineDedup's reassembly
    // the span-list side is bounded by duplication/contamination volume,
    // not corpus size — while it broadcasts, the corpus TEXT never sorts
    // or shuffles for the rebuild; past the bound the shuffle hash join
    // is still span-proportional. Without the hint, stale auto-broadcast
    // stats would ship the corpus text through an exchange for a join
    // whose right side is KB-sized. The measure is TOTAL marked
    // positions (the true broadcast volume), not grouped rows: each row
    // carries a per-doc position array bounded only by doc length, so a
    // table within the row bound could still be multi-GB.
    val spans = Bounded(
      marked.groupBy("doc_id").agg(sort_array(collect_list(col("pos"))).as("ps")),
      Bounded.Rows, sum(size(col("ps"))))
    docs.join(spans.build, Seq("doc_id"), "left")
      .withColumn("kept", when(col("ps").isNull, col("text")).otherwise(expr(
        s"""aggregate(ps,
           |  named_struct('e', 0, 'acc', ''),
           |  (st, p) -> named_struct(
           |    'e', p + $L,
           |    'acc', CASE WHEN p >= st.e
           |           THEN concat(st.acc, substring(text, st.e + 1, p - st.e))
           |           ELSE st.acc END),
           |  st -> concat(st.acc, substring(text, st.e + 1, length(text))))""".stripMargin)))
      .select(col("doc_id"), col("kept").as("text"),
        (length(col("text")) - length(col("kept"))).cast("bigint").as("n_removed"))
  }

  private[graft] def substringDedup(docs: DataFrame, gramLen: Int = 40): DataFrame = {
    val L = gramLen
    // stride-1 hashes from the native O(n) rolling kernel
    // (plans.RollingGramHash) — the prefilter pass never materializes
    // the L×-amplified gram strings the expression-level
    // transform+substring formulation allocates (the measured dominant
    // cost of the first cut of this operator, see SCALE.md); equal
    // grams hash equal by
    // construction, so the prefilter keeps the no-false-negatives
    // guarantee and the exact confirm below still removes collisions
    val hashed = docs.filter(length(col("text")) >= L)
      .select(col("doc_id"),
        posexplode(expr(s"rolling_gram_hash(text, $L)")).as(Seq("pos", "gh")))
    // the duplicated-hash set is bounded by duplication volume, not
    // corpus size
    val dupH = Bounded(hashed.groupBy("gh").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("gh"), Bounded.Rows)
    // candidate POSITIONS only (two numbers a row)
    val candPos = Bounded(hashed.join(dupH.build, Seq("gh"), "left_semi")
      .select("doc_id", "pos"), Bounded.Rows)
    // re-derive actual grams ONLY for the duplicated slice; while the
    // slice broadcasts, the corpus text never shuffles (past the bound:
    // shuffle hash join, still slice-proportional output)
    val cand = docs.select(col("doc_id"), col("text"))
      .join(candPos.build, Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        expr(s"substring(text, pos + 1, $L)").as("gram"))
      .localCheckpoint(true)
    val dupG = cand.groupBy("gram").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("gram")
    val marked = cand.join(dupG, Seq("gram"), "left_semi").select(col("doc_id"), col("pos"))
    cutMarkedSpans(docs, marked, L)
  }

  /** DuckDB gaps-and-islands merge of `mk` (doc_id, pos) marked rows
    * into [s, e) spans — CTEs `${p}lg` / `${p}isl` / `${p}sp`. ONE
    * definition shared by every span-cut oracle (d_substring_dedup,
    * d_decontaminate_scrub, st_decontaminate_scrub, and
    * d_web_pipeline_substr's coverage chain) so the interval-merge
    * arithmetic — including the `pos > prev + L` adjacency constant —
    * cannot drift between gates.
    */
  private[graft] def spanIslandsSql(mk: String, p: String = "", L: Int = 40): String =
    s"""${p}lg AS (SELECT doc_id, pos,
       |  LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM $mk),
       |${p}isl AS (SELECT doc_id, pos,
       |  SUM(CASE WHEN prev IS NULL OR pos > prev + $L THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM ${p}lg),
       |${p}sp AS (SELECT doc_id, grp, MIN(pos) AS s, MAX(pos) + $L AS e
       |  FROM ${p}isl GROUP BY 1, 2)""".stripMargin

  /** Segment reassembly of the `${p}sp` spans against `src` texts →
    * `${p}reb` (doc_id, text): kept segments re-concatenate in order
    * (the cutMarkedSpans fold's SQL twin).
    */
  private[graft] def spanRebuildSql(src: String, p: String = ""): String =
    // NOTE: no line may START with "||" — callers interpolate this
    // fragment into their own stripMargin strings, whose strip would
    // eat the first pipe of a leading "||" (blanks-then-| is a margin)
    s"""${p}seg AS (SELECT doc_id, s, e,
       |  COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe FROM ${p}sp),
       |${p}reb AS (SELECT g.doc_id,
       |  string_agg(substr(t.text, g.pe + 1, g.s - g.pe), '' ORDER BY g.s) ||
       |    substr(t.text, MAX(g.e) + 1) AS text
       |  FROM ${p}seg g JOIN $src t USING (doc_id) GROUP BY g.doc_id, t.text)""".stripMargin

  /** Cross-corpus ExactSubstr DECONTAMINATION SCRUB: cut from every
    * training document each span whose stride-1 `gramLen`-char gram
    * appears ANYWHERE in the eval/benchmark set — the removal-grade
    * counterpart of d_decontaminate's shared-shingle COUNT (flagging
    * tells you a doc leaks eval data; this excises the leak and keeps
    * the rest of the doc, the way production pipelines actually
    * decontaminate — e.g. the 13-gram overlap scrub in GPT-3 appendix C
    * / PaLM §6.1, here at exact-substring strength). Marking is the
    * rolling-hash prefilter + exact-confirm pass documented on
    * [[contaminatedPositions]] (an O(n) kernel scan and broadcast semi
    * joins — the training corpus text never shuffles while
    * contamination is bounded); merging+rebuild is doc-local
    * (cutMarkedSpans).
    */
  private[graft] def decontaminateScrub(docs: DataFrame, evalDocs: DataFrame,
                                        gramLen: Int = 40): DataFrame =
    cutMarkedSpans(docs, contaminatedPositions(docs, evalDocs, gramLen), gramLen)

  /** (doc_id, pos) of every training-corpus character position whose
    * stride-1 `L`-char gram appears ANYWHERE in the eval set — the
    * marking half of [[decontaminateScrub]], shared with prepareWeb's
    * flag-and-drop decontamination stage.
    *
    * Marking runs substringDedup's rolling-hash discipline, not a gram
    * explode: the training side derives stride-1 hashes from the native
    * O(n)-per-doc plans.RollingGramHash kernel (16 bytes per position —
    * never the L×40 text-volume gram strings, the measured dominant
    * cost of d_substring_dedup's first cut), the eval grams hash through
    * the SAME kernel (one hash per L-char gram string), the hash sets
    * semi-join, and ONLY the marked slice — proportional to actual
    * contamination volume — re-derives its raw grams for the exact
    * confirm against the broadcast eval gram strings (collisions die
    * there; no false negatives by construction, the d_bloom_prefilter
    * discipline). The eval side is tiny by NATURE (benchmarks, not
    * corpora) but nothing here falls over if it isn't: every broadcast
    * is a [[Bounded]] decision with a shuffle fallback — the
    * fixed-width HASH set rides the wider [[Bounded.IdRows]] (keeping
    * the corpus-wide marking pass map-side is worth 4× more broadcast
    * rows than a 40-char string set), the gram STRING set and the
    * candidate-position slice [[Bounded.Rows]]. While the bounds hold,
    * the corpus text never shuffles.
    */
  private[graft] def contaminatedPositions(docs: DataFrame, evalDocs: DataFrame,
                                           L: Int = 40): DataFrame = {
    // materialized: read by the hash derivation AND the exact confirm
    val evalGrams = Bounded(evalDocs.filter(length(col("text")) >= L)
      .select(explode(expr(strideGramArrayExpr(L))).as("gram")).distinct(), Bounded.Rows)
    // each eval gram is exactly L code points, so the kernel emits
    // exactly one hash per gram — the same polynomial the corpus-side
    // windows hash to, so equal grams meet in the semi join
    val evalH = Bounded(evalGrams.frame
      .select(expr(s"element_at(rolling_gram_hash(gram, $L), 1)").as("gh"))
      .distinct(), Bounded.IdRows)
    val candPos = Bounded(docs.filter(length(col("text")) >= L)
      .select(col("doc_id"),
        posexplode(expr(s"rolling_gram_hash(text, $L)")).as(Seq("pos", "gh")))
      .join(evalH.build, Seq("gh"), "left_semi")
      .select("doc_id", "pos"), Bounded.Rows)
    // confirm source: while candPos broadcasts, the corpus text never
    // moves. Past the bound the inner join's shuffle arm would
    // hash-partition the ENTIRE text relation to meet a
    // contamination-proportional position list — so restrict the text
    // to contaminated docs FIRST via their DISTINCT doc_id set (orders
    // smaller than the position list). The shuffled text is then
    // contaminated-docs-only, and the semi→inner composition is
    // row-identical to the plain inner join.
    val confirmSrc =
      if (candPos.fits)
        docs.select(col("doc_id"), col("text")).join(candPos.build, Seq("doc_id"))
      else {
        val candIds = Bounded(candPos.frame.select("doc_id").distinct(), Bounded.IdRows)
        docs.select(col("doc_id"), col("text"))
          .join(candIds.build, Seq("doc_id"), "left_semi")
          .join(candPos.frame, Seq("doc_id"))
      }
    confirmSrc
      .select(col("doc_id"), col("pos"),
        expr(s"substring(text, pos + 1, $L)").as("gram"))
      .join(evalGrams.build, Seq("gram"), "left_semi")
      .select("doc_id", "pos")
  }

  /** Benchmark decontamination: count, per training doc, the 3-token
    * shingles it shares with an eval/benchmark set — the contamination
    * filter every LLM training pipeline runs before a corpus ships
    * (drop or flag docs that leak eval data). The eval side is tiny by
    * nature (benchmarks, not corpora), so its distinct gram set is
    * BROADCAST: the corpus relation never shuffles for the join; the
    * only exchange is the final per-doc aggregation over the matched
    * grams — a relation bounded by contamination volume, not corpus
    * size. Per-doc grams are already distinct (shingles applies
    * array_distinct), so count(*) is the distinct-overlap count.
    */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame): DataFrame = {
    val evalGrams = shingles(evalDocs)
      .select(explode(col("sh")).as("g")).distinct()
    val corpusGrams = shingles(docs)
      .select(col("doc_id"), explode(col("sh")).as("g"))
    corpusGrams.join(broadcast(evalGrams), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** DuckDB twin of lshCandidates: CTE chain ending in `cand`, with the
    * same bucket cap.
    */
  /** Per-cluster keep-best aggregation (d_keep_best): highest quality
    * wins, doc_id breaks ties. Window partitions are clusters —
    * bounded groups, never a corpus sort.
    */
  private[graft] def keepBest(clusters: org.apache.spark.sql.DataFrame,
                              quality: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("quality").desc, col("doc_id"))
    clusters.join(quality, "doc_id")
      .withColumn("rn", row_number().over(w))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"),
           max(when(col("rn") === 1, col("doc_id"))).as("keeper"),
           max(when(col("rn") === 1, col("quality"))).as("keeper_quality"))
  }

  /** DuckDB twin of the banded-LSH candidate chain, parameterized by
    * the source relation so composites (d_web_pipeline) can run the
    * SAME derivation over a filtered upstream CTE instead of the raw
    * documents table.
    */
  private[graft] def candSql(maxBucket: Int, src: String = "documents"): String = {
    val minsSql = (0 until Bands * Rows).map { i =>
      s"min(substr(y, ${1 + 8 * i}, 8)) AS h$i"
    }.mkString(", ")
    val bandSql = (0 until Bands).map { j =>
      val key = (0 until Rows).map(k => s"h${j * Rows + k}").mkString(" || ")
      s"SELECT doc_id, $j AS j, md5($key) AS mh FROM mins"
    }.mkString("\nUNION ALL\n")
    s"""sh AS (SELECT doc_id, $shinglesSqlDuck AS sh FROM $src),
       |hashed AS (SELECT doc_id,
       |  md5('0|' || x) || md5('1|' || x) || md5('2|' || x) || md5('3|' || x) AS y
       |  FROM (SELECT doc_id, unnest(sh) AS x FROM sh)),
       |mins AS (SELECT doc_id, $minsSql FROM hashed GROUP BY doc_id),
       |bands AS ($bandSql),
       |oversized AS (SELECT j, mh FROM bands GROUP BY j, mh HAVING COUNT(*) > $maxBucket),
       |capped AS (SELECT b.doc_id, b.j, b.mh FROM bands b
       |  ANTI JOIN oversized o ON b.j = o.j AND b.mh = o.mh),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM capped a JOIN capped b ON a.j = b.j AND a.mh = b.mh AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** Jaccard over two pre-distinct string arrays, rounded. */
  private def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    round(inter.cast("double") / (size(a) + size(b) - inter), 4)
  }

  override def entries: Seq[QueryDef] = Seq(
    // the one-call corpus preparation composite (api.TrainingData):
    // hygiene → exact dedup → LSH near-dup dedup → quality floor →
    // hash split → packing plan, surfaced here as its per-stage row
    // accounting so the driver gate watches the whole pipeline run.
    // Rows-only (LSH has no DuckDB twin); TrainingDataSpec pins stage
    // monotonicity, duplicate-free output, split determinism, and the
    // bin token budget.
    QueryDef(
      "d_training_prepare",
      (s, dir) => {
        import s.implicits._
        graft.api.TrainingData.prepare(Tables(s, dir).documents)
          .stages.toDF("stage", "rows")
      },
      Some(graft.api.ParseSnapshots.sfPinnedSql("d_training_prepare")),
    ),
    QueryDef(
      "d_dedup_exact",
      (s, dir) => {
        val d = Tables(s, dir).documents
        d.groupBy(md5(col("text")).as("text_hash"))
          .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
          .orderBy("text_hash")
      },
      Some("""SELECT md5(text) AS text_hash, COUNT(*) AS n_copies,
             |MIN(doc_id) AS keeper
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    ),
    // URL-canonicalization dedup — the crawl-side twin of d_dedup_exact:
    // a crawl sees the same page under scheme/case/www/query-string/
    // trailing-slash variants, and deduping on the CANONICAL url (5
    // normalization steps, one codegen'd regexp chain) collapses them
    // before any content hashing runs. URLs are synthesized from doc_id
    // with all three variant shapes so the oracle proves each
    // normalization step; the groupBy is a plain hash aggregate
    // (map-side combined) on the canonical key — no shuffle of page
    // bodies, which is what makes URL-first dedup the cheap front gate
    // at crawl scale.
    QueryDef(
      "d_url_dedup",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val url = concat(
          lit("HTTPS://WWW.Src"), (col("doc_id") % 20).cast("string"),
          lit(".Example.COM/docs/"), (col("doc_id") % 100).cast("string"),
          when(col("doc_id") % 3 === 0, lit("/?utm_source=crawl&ref=seed"))
            .when(col("doc_id") % 3 === 1, lit("/"))
            .otherwise(lit("")))
        val canon = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          lower(url), "^https?://", ""), "^www\\.", ""), "\\?.*$", ""), "/+$", "")
        d.select(col("doc_id"), canon.as("canon_url"))
          .groupBy("canon_url")
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
          .orderBy("canon_url")
      },
      Some("""WITH u AS (SELECT doc_id,
             |  'HTTPS://WWW.Src' || CAST(doc_id % 20 AS VARCHAR)
             |  || '.Example.COM/docs/' || CAST(doc_id % 100 AS VARCHAR)
             |  || CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=crawl&ref=seed'
             |          WHEN doc_id % 3 = 1 THEN '/' ELSE '' END AS url
             |  FROM documents)
             |SELECT regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             |  lower(url), '^https?://', ''), '^www\.', ''), '\?.*$', ''), '/+$', '') AS canon_url,
             |COUNT(*) AS n_docs, MIN(doc_id) AS keeper
             |FROM u GROUP BY 1 ORDER BY 1""".stripMargin),
    ),
    QueryDef(
      "d_minhash_lsh",
      (s, dir) => minhashLsh(Tables(s, dir).documents).orderBy("doc_a", "doc_b"),
      Some {
        s"""WITH ${candSql(MaxBucket)}
           |SELECT doc_a, doc_b,
           |ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           |  / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4) AS jaccard
           |FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b
           |WHERE ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           |  / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4) >= $JaccardTau
           |ORDER BY doc_a, doc_b""".stripMargin
      },
    ),
    // production-hash LSH twin: xxhash64 signatures (no DuckDB md5
    // parity, so rows-only); DedupLsh64Spec pins pair-set parity with
    // the oracled md5 path
    QueryDef(
      "d_minhash_lsh_fast",
      (s, dir) => minhashLsh64(Tables(s, dir).documents).orderBy("doc_a", "doc_b"),
      Some(graft.api.ParseSnapshots.sfPinnedSql("d_minhash_lsh_fast")),
    ),
    // near-dup pairs → duplicate CLUSTERS: min-label propagation over
    // the LSH pair graph (DedupPipeline.clusters — two hash joins per
    // iteration, iterations bounded by component diameter, no
    // driver-side graph). Oracled end to end against a RECURSIVE-CTE
    // transitive closure over the SAME pair derivation: the gate
    // hash-checks that the iterative distributed algorithm reaches the
    // exact fixpoint a textbook closure computes. (The closure is the
    // oracle's luxury — O(edges·nodes) worst case is fine on the gate
    // corpus; the propagation is the shape that survives 100 TB.)
    QueryDef(
      "d_dedup_clusters",
      (s, dir) => {
        val pairs = minhashLsh(Tables(s, dir).documents)
        graft.api.DedupPipeline.clusters(pairs).orderBy("doc_id")
      },
      Some {
        s"""WITH RECURSIVE ${candSql(MaxBucket)},
           |jac AS (SELECT doc_a, doc_b,
           |  ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           |    / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4) AS jaccard
           |  FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b),
           |pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= $JaccardTau),
           |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
           |          UNION SELECT doc_b, doc_a FROM pairs),
           |reach AS (SELECT a AS src, b AS dst FROM edges
           |          UNION
           |          SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
           |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
           |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin
      },
    ),
    // (keepBest helper defined below the entries list)
    // QUALITY-AWARE cluster keeper — the SemDeDup/FineWeb policy: from
    // each near-dup cluster keep the highest-QUALITY member, not the
    // smallest id (d_dedup_clusters' min-label convention); the keeper
    // argmax uses t_quality_score's exact scalar with doc_id breaking
    // quality ties. Window partitions are CLUSTERS (bounded groups), so
    // the row_number never sorts the corpus — the same per-group shape
    // as q_window_topn_per_group, riding the banded-LSH pair generation
    // and min-label propagation unchanged. The quality scan is
    // MEMBER-RESTRICTED (r16): only cluster members enter the keeper
    // ranking, so the qualityCol pass runs on the ~10% member slice
    // behind a bounded broadcast semi join (the r16 tail profile put
    // the corpus-wide scan at 128 s of the honest 1000× cell; the
    // dedupKeepBestBy scaladoc explains why the semi join must sit
    // BELOW the score projection). Fallback past the 16M-member bound
    // is the corpus-wide map-side scan.
    QueryDef(
      "d_keep_best",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val cl = Bounded(graft.api.DedupPipeline.clusters(minhashLsh(docs)), Bounded.IdRows)
        val src =
          if (cl.fits)
            docs.join(broadcast(cl.frame.select(col("doc_id"))), Seq("doc_id"), "left_semi")
          else docs
        keepBest(cl.frame, src.select(col("doc_id"), TextAnalysis.qualityCol.as("quality")))
          .orderBy("cluster_id")
      },
      Some {
        s"""WITH RECURSIVE ${candSql(MaxBucket)},
           |jac AS (SELECT doc_a, doc_b,
           |  ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           |    / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4) AS jaccard
           |  FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b),
           |pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= $JaccardTau),
           |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
           |          UNION SELECT doc_b, doc_a FROM pairs),
           |reach AS (SELECT a AS src, b AS dst FROM edges
           |          UNION
           |          SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
           |cl AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
           |       FROM reach GROUP BY src),
           |q AS (SELECT doc_id,
           |  ROUND(LEAST(1.0, CAST(len(string_split(text,' ')) AS DOUBLE)/200.0)*0.5
           |    + (CAST(len(list_filter(string_split(text,' '),
           |         w -> w IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
           |       / len(string_split(text,' ')))*0.2
           |    + (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
           |       / length(text))*0.3, 4) AS quality
           |  FROM documents),
           |r AS (SELECT cl.cluster_id, cl.doc_id, q.quality,
           |  ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
           |    ORDER BY q.quality DESC, cl.doc_id) AS rn
           |  FROM cl JOIN q USING (doc_id))
           |SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |MAX(CASE WHEN rn = 1 THEN doc_id END) AS keeper,
           |MAX(CASE WHEN rn = 1 THEN quality END) AS keeper_quality
           |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
      },
    ),
    // Link-graph authority — the crawl-side PRIORITIZATION signal
    // (which domains/pages deserve crawl budget and trust weight):
    // 3 power-iteration steps of PageRank (damping 0.85) over a
    // deterministic synthetic link graph (each doc links to three
    // formula-derived targets, so the oracle can rebuild the identical
    // graph). The Spark side is the ITERATIVE-DATAFRAME shape that
    // scales: each step is one shuffle join (links ⋈ ranks on src) +
    // one hash aggregate on dst — no driver-side graph, iterations
    // bounded by a constant, the d_dedup_clusters fixpoint pattern
    // with arithmetic instead of min-label. The oracle unrolls the
    // same three steps as chained CTEs; in-link double sums are
    // summation-order dependent cross-engine, so the output carries
    // the round(6) second-moment contract.
    QueryDef(
      "d_link_authority",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val docs = d.select(col("doc_id"))
        val nDf = docs.agg(count(lit(1)).as("n"))
        val withN = docs.crossJoin(broadcast(nDf))
        val links = withN.select(col("doc_id").as("src"),
          explode(array(
            (col("doc_id") * 7 + 1) % col("n"),
            (col("doc_id") * 13 + 2) % col("n"),
            (col("doc_id") * 31 + 3) % col("n"))).as("dst"))
        var ranks = withN.select(col("doc_id"),
          (lit(1.0) / col("n").cast("double")).as("pr"))
        for (_ <- 1 to 3) {
          val contribs = links
            .join(ranks.select(col("doc_id").as("src"), col("pr")), "src")
            .groupBy(col("dst").as("doc_id"))
            .agg(sum(col("pr") / 3.0).as("c"))
          ranks = withN.join(contribs, Seq("doc_id"), "left")
            .select(col("doc_id"),
              (lit(0.15) / col("n").cast("double")
                + lit(0.85) * coalesce(col("c"), lit(0.0))).as("pr"))
        }
        ranks.select(col("doc_id"), round(col("pr"), 6).as("authority"))
          .orderBy("doc_id")
      },
      Some("""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
             |docs AS (SELECT doc_id FROM documents CROSS JOIN nn),
             |links AS (SELECT doc_id AS src, unnest([
             |  (doc_id*7+1) % n, (doc_id*13+2) % n, (doc_id*31+3) % n]) AS dst
             |  FROM docs),
             |r0 AS (SELECT doc_id, CAST(1.0 AS DOUBLE)/CAST(n AS DOUBLE) AS pr
             |  FROM documents CROSS JOIN nn),
             |c1 AS (SELECT dst AS doc_id, SUM(pr/3.0) AS c FROM links
             |  JOIN r0 ON r0.doc_id = links.src GROUP BY dst),
             |r1 AS (SELECT d.doc_id, 0.15/CAST(n AS DOUBLE) + 0.85*COALESCE(c, 0.0) AS pr
             |  FROM documents d CROSS JOIN nn LEFT JOIN c1 ON c1.doc_id = d.doc_id),
             |c2 AS (SELECT dst AS doc_id, SUM(pr/3.0) AS c FROM links
             |  JOIN r1 ON r1.doc_id = links.src GROUP BY dst),
             |r2 AS (SELECT d.doc_id, 0.15/CAST(n AS DOUBLE) + 0.85*COALESCE(c, 0.0) AS pr
             |  FROM documents d CROSS JOIN nn LEFT JOIN c2 ON c2.doc_id = d.doc_id),
             |c3 AS (SELECT dst AS doc_id, SUM(pr/3.0) AS c FROM links
             |  JOIN r2 ON r2.doc_id = links.src GROUP BY dst),
             |r3 AS (SELECT d.doc_id, 0.15/CAST(n AS DOUBLE) + 0.85*COALESCE(c, 0.0) AS pr
             |  FROM documents d CROSS JOIN nn LEFT JOIN c3 ON c3.doc_id = d.doc_id)
             |SELECT doc_id, ROUND(pr, 6) AS authority FROM r3 ORDER BY doc_id""".stripMargin),
    ),
    QueryDef(
      "d_simhash",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val toks = d.select(col("doc_id"),
          expr("array_distinct(split(text, ' '))").as("toks"))
        val bitTerms = (1 to 16).map { j =>
          val sumJ = s"""aggregate(transform(toks, w ->
            CASE WHEN (instr('0123456789abcdef', substring(md5(w), $j, 1)) - 1) % 2 = 1
            THEN 1 ELSE -1 END), 0, (a, x) -> a + x)"""
          s"(CASE WHEN $sumJ > 0 THEN ${1 << (j - 1)} ELSE 0 END)"
        }
        toks.select(col("doc_id"),
                    expr(s"CAST(${bitTerms.mkString(" + ")} AS INT)").as("simhash"),
                    expr("CAST(size(toks) AS BIGINT)").as("n_tokens"))
          .orderBy("doc_id")
      },
      Some {
        val bitTerms = (1 to 16).map { j =>
          val sumJ = s"""list_sum(list_transform(toks, w ->
            CASE WHEN (strpos('0123456789abcdef', substr(md5(w), $j, 1)) - 1) % 2 = 1
            THEN 1 ELSE -1 END))"""
          s"(CASE WHEN $sumJ > 0 THEN ${1 << (j - 1)} ELSE 0 END)"
        }
        s"""WITH t AS (SELECT doc_id, list_distinct(string_split(text,' ')) AS toks FROM documents)
           |SELECT doc_id, CAST(${bitTerms.mkString(" + ")} AS INT) AS simhash,
           |CAST(len(toks) AS BIGINT) AS n_tokens
           |FROM t ORDER BY doc_id""".stripMargin
      },
    ),
    // at-scale simhash dedup: native 64-bit simhash64 expression, 4×16-bit
    // band bucketing (a pair within hamming 3 shares ≥1 exact band) with
    // the oversized-bucket cap, then hamming verification — rows-only
    // (murmur3 has no DuckDB twin; Simhash64Spec + DedupSimhash64Spec)
    QueryDef(
      "d_simhash64",
      (s, dir) => simhash64Pairs(Tables(s, dir).documents).orderBy("doc_a", "doc_b"),
      Some(graft.api.ParseSnapshots.sfPinnedSql("d_simhash64")),
    ),
    // char-4-gram Jaccard verification on the LSH candidate pairs over
    // the FULL corpus — candidate generation is the banded minhash join
    // (linear, capped buckets), never an all-pairs cartesian
    QueryDef(
      "d_ngram_jaccard",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val grams = charGrams(d)
        val sh = shingles(d).persist()
        val bands = bandedSignatures(sh)
        val out = candidatesFrom(bands, MaxBucket)
          .join(grams.select(col("doc_id").as("doc_a"), col("g").as("g_a")), "doc_a")
          .join(grams.select(col("doc_id").as("doc_b"), col("g").as("g_b")), "doc_b")
          .select(col("doc_a"), col("doc_b"), jaccard(col("g_a"), col("g_b")).as("jaccard"))
          .filter(col("jaccard") >= 0.2)
          .orderBy("doc_a", "doc_b")
        Materialize(out, bands, sh)
      },
      Some(s"""WITH ${candSql(MaxBucket)},
             |g AS (SELECT doc_id,
             |  $gramsSqlDuck AS g
             |  FROM documents)
             |SELECT doc_a, doc_b,
             |ROUND(CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
             |  / (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g))), 4) AS jaccard
             |FROM cand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b
             |WHERE ROUND(CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
             |  / (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g))), 4) >= 0.2
             |ORDER BY doc_a, doc_b""".stripMargin),
    ),
    // edit-distance verification on the SAME LSH candidates — the
    // fuzzy-match prong (typo-level duplicates where token-set measures
    // saturate). Levenshtein is O(len²) per pair, which is exactly why
    // it must only ever run on the capped candidate list, never the
    // corpus cross product; the normalized similarity divides by the
    // longer text so the score is symmetric.
    QueryDef(
      "d_fuzzy_verify",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val sh = shingles(d).persist()
        val bands = bandedSignatures(sh)
        val texts = d.select(col("doc_id"), col("text"))
        val out = candidatesFrom(bands, MaxBucket)
          .join(texts.select(col("doc_id").as("doc_a"), col("text").as("t_a")), "doc_a")
          .join(texts.select(col("doc_id").as("doc_b"), col("text").as("t_b")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
                  levenshtein(col("t_a"), col("t_b")).cast("bigint").as("edit_dist"),
                  round(lit(1.0) - levenshtein(col("t_a"), col("t_b")).cast("double") /
                    greatest(length(col("t_a")), length(col("t_b"))), 4).as("sim"))
          .filter(col("sim") >= 0.5)
          .orderBy("doc_a", "doc_b")
        Materialize(out, bands, sh)
      },
      Some(s"""WITH ${candSql(MaxBucket)},
             |t AS (SELECT doc_id, text FROM documents),
             |v AS (SELECT doc_a, doc_b,
             |  CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist,
             |  ROUND(1.0 - CAST(levenshtein(ta.text, tb.text) AS DOUBLE)
             |    / GREATEST(length(ta.text), length(tb.text)), 4) AS sim
             |  FROM cand JOIN t ta ON ta.doc_id = doc_a JOIN t tb ON tb.doc_id = doc_b)
             |SELECT doc_a, doc_b, edit_dist, sim FROM v
             |WHERE sim >= 0.5 ORDER BY doc_a, doc_b""".stripMargin),
    ),
    // benchmark decontamination: docs with doc_id ≡ 0 (mod 97) stand in
    // for the eval set; every other doc sharing ≥1 3-token shingle with
    // it is reported with its overlap count. Eval grams broadcast — the
    // corpus side never shuffles for the join.
    QueryDef(
      "d_decontaminate",
      (s, dir) => {
        val d = Tables(s, dir).documents
        decontaminate(d.filter(col("doc_id") % 97 =!= 0),
                      d.filter(col("doc_id") % 97 === 0)).orderBy("doc_id")
      },
      Some(s"""WITH sh AS (SELECT doc_id, $shinglesSqlDuck AS sh FROM documents),
             |g AS (SELECT doc_id, unnest(sh) AS g FROM sh),
             |eg AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
             |FROM g JOIN eg USING (g)
             |WHERE doc_id % 97 <> 0
             |GROUP BY 1 ORDER BY 1""".stripMargin),
    ),
    // shingle-set CONTAINMENT on the same LSH candidates — the
    // asymmetric near-dup Jaccard misses: a short doc fully embedded in
    // a long one scores |A∩B|/min(|A|,|B|) ≈ 1 while its Jaccard stays
    // tiny (union dominated by the long doc). Deduplication pipelines
    // use it to drop quote/excerpt duplicates.
    QueryDef(
      "d_containment",
      (s, dir) => containmentPairs(Tables(s, dir).documents).orderBy("doc_a", "doc_b"),
      Some(s"""WITH ${candSql(MaxBucket)}
             |SELECT doc_a, doc_b,
             |ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             |  / LEAST(len(sa.sh), len(sb.sh)), 4) AS containment
             |FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b
             |WHERE ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             |  / LEAST(len(sa.sh), len(sb.sh)), 4) >= 0.5
             |ORDER BY doc_a, doc_b""".stripMargin),
    ),
    // containment-COMPLETE probe for short docs (prefix filtering):
    // recall 1 by construction for the excerpt pairs the banded path's
    // collision knee misses — see containmentProbePairs' scaladoc.
    // The gate corpus carries few natural short docs (2 pairs at
    // sf0.01), so the fixture MINTS an embedded excerpt per 50th doc
    // (its first 20 words under a fresh id) — exactly the short-doc-
    // inside-long-doc shape the operator exists for, ≥10 gate pairs at
    // sf0.01, oracle-reproduced from the same formula
    QueryDef(
      "d_containment_probe",
      (s, dir) => {
        val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
        val minted = d.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 100000000000L).as("doc_id"),
            expr("array_join(slice(split(text, ' '), 1, 20), ' ')").as("text"))
        containmentProbePairs(d.unionByName(minted))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH src AS (SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000000000,
             |    array_to_string(list_slice(string_split(text, ' '), 1, 20), ' ')
             |  FROM documents WHERE doc_id % 50 = 0),
             |sh AS (SELECT doc_id, $shinglesSqlDuck AS sh FROM src),
             |idx AS (SELECT doc_id, unnest(sh) AS g FROM sh),
             |hot AS (SELECT g FROM idx GROUP BY 1 HAVING COUNT(*) > $MaxBucket),
             |okidx AS (SELECT idx.* FROM idx ANTI JOIN hot USING (g)),
             |probes AS (SELECT o.doc_id AS doc_a, o.g FROM okidx o
             |  JOIN sh ON sh.doc_id = o.doc_id WHERE len(sh.sh) <= 20),
             |cand AS (SELECT DISTINCT doc_a, i.doc_id AS doc_b
             |  FROM probes JOIN okidx i USING (g) WHERE doc_a <> i.doc_id),
             |v AS (SELECT doc_a, doc_b,
             |  ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(sa.sh), 4) AS containment
             |  FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b)
             |SELECT doc_a, doc_b, containment FROM v
             |WHERE containment >= 0.5 ORDER BY doc_a, doc_b""".stripMargin),
    ),
    // Bloom-prefiltered cross-corpus dedup: which candidate docs
    // (doc_id % 10 >= 3) repeat a bag-of-words fingerprint from the
    // reference slice (doc_id % 10 < 3)? At 100 TB the candidate side
    // must NOT shuffle for a semi join — a Bloom filter built over the
    // small reference side turns membership into a scan-side codegen'd
    // predicate; only the survivors (true members + a bounded FP
    // trickle) reach the exact verification join, which broadcasts the
    // reference side. No false negatives ⇒ the result is EXACTLY the
    // semi join, so the whole pipeline stays DuckDB-oracled; the FP
    // bound and the filter's plan shape are BloomFilterSpec's job.
    QueryDef(
      "d_bloom_prefilter",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val fp = graft.functions.TextFp.bagOfWords(col("text"))
        // r16: widen both fingerprint scans (split+sort+md5 per row on
        // a single-split input) and materialize the reference fp set
        // ONCE — it feeds the Bloom build AND the exact-verify
        // broadcast, which previously re-ran the whole distinct
        // subtree (sweep: 8.5 → ~1.5 s at sf0.1)
        val ref = Par.widen(d.filter(col("doc_id") % 10 < 3), col("doc_id"))
          .select(fp.as("fp")).distinct().localCheckpoint(false)
        val bits = graft.functions.BloomFilter.build(ref, col("fp"), numWords = 2048, k = 5)
        Par.widen(d.filter(col("doc_id") % 10 >= 3), col("doc_id"))
          .select(col("doc_id"), fp.as("fp"))
          .filter(graft.functions.BloomFilter.mightContain(bits, col("fp"), k = 5))
          .join(broadcast(ref), Seq("fp"), "left_semi")
          .select(col("doc_id"))
          .orderBy("doc_id")
      },
      Some("""WITH fp AS (SELECT doc_id,
             |  md5(array_to_string(list_sort(list_distinct(string_split(text,' '))),' ')) AS fp
             |  FROM documents)
             |SELECT doc_id FROM fp d
             |WHERE doc_id % 10 >= 3 AND EXISTS
             |  (SELECT 1 FROM fp b WHERE b.doc_id % 10 < 3 AND b.fp = d.fp)
             |ORDER BY doc_id""".stripMargin),
    ),
    // C4-style chunk-level dedup with document reassembly: every
    // 10-token chunk survives only in its earliest-doc occurrence, docs
    // reassemble from their surviving chunks in order, fully-duplicated
    // docs vanish. The whole pipeline is joins + hash aggregates on the
    // chunk key — no corpus-wide window, so it scales like the exact
    // dedup it generalizes.
    QueryDef(
      "d_line_dedup",
      (s, dir) => lineDedup(Tables(s, dir).documents, chunkTokens = 10).orderBy("doc_id"),
      Some("""WITH c AS (
             |  SELECT doc_id, i AS idx,
             |    array_to_string(list_slice(string_split(text, ' '), i*10+1, i*10+10), ' ') AS chunk
             |  FROM (SELECT doc_id, text,
             |          unnest(generate_series(0, (len(string_split(text, ' '))-1)//10)) AS i
             |        FROM documents)),
             |m AS (SELECT chunk, min(doc_id) AS keep_doc FROM c GROUP BY 1),
             |k AS (SELECT c.doc_id, c.idx, c.chunk
             |      FROM c JOIN m ON c.chunk = m.chunk AND c.doc_id = m.keep_doc),
             |k2 AS (SELECT doc_id, chunk, min(idx) AS idx FROM k GROUP BY 1, 2)
             |SELECT doc_id, string_agg(chunk, ' ' ORDER BY idx) AS text,
             |       COUNT(*) AS n_chunks
             |FROM k2 GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),
    // WINNOWING fingerprint dedup (Schleimer/Wilkerson/Aiken,
    // SIGMOD'03 — the MOSS algorithm): the published scalable stand-in
    // for suffix-array exact-substring dedup (Lee et al.'s
    // ExactSubstr). Every window of W=8 consecutive character K=16-
    // grams selects its rightmost-minimal gram under a pseudo-random
    // (md5) order; the winnowing theorem then guarantees any substring
    // of >= K+W-1 = 23 chars shared by two documents yields a SHARED
    // selected fingerprint, while only ~2/(W+1) of positions are ever
    // selected. Selection is entirely DOC-LOCAL (array lambdas — the
    // hash array, the per-window argmin fold, and the position->gram
    // projection never leave the row), so the only corpus-sized
    // exchange carries the selected (gram, doc) fingerprints — ~22% of
    // text volume, stride-1 exactness without shipping stride-1 rows.
    // The candidate join keys on the RAW GRAM, so every reported pair
    // shares an exact 16-char substring: no hash-collision false
    // positives, no separate verify pass. Hot boilerplate grams are
    // dropped by the shared broadcast anti-join bucket cap. md5 is the
    // oracle-portable order (the same md5-vs-xxhash64 twin convention
    // as d_minhash_lsh; swap md5 for xxhash64 off-oracle and the plan
    // is unchanged).
    QueryDef(
      "d_winnow_dedup",
      (s, dir) => {
        val capped = capBuckets(
          winnowFingerprints(Tables(s, dir).documents), Seq("gram"), MaxBucket)
        capped.select(col("gram"), col("doc_id").as("doc_a"))
          .join(capped.select(col("gram"), col("doc_id").as("doc_b")), "gram")
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH $WinnowFpCtes,
             |hot AS (SELECT gram FROM fp GROUP BY 1 HAVING COUNT(*) > ${MaxBucket}),
             |ok AS (SELECT fp.* FROM fp ANTI JOIN hot USING (gram))
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |       CAST(COUNT(*) AS BIGINT) AS n_shared
             |FROM ok a JOIN ok b ON a.gram = b.gram AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    ),
    // ExactSubstr duplicated-span REMOVAL (see substringDedup): the
    // gate mints an embedded copy of each 25th doc's 160-char prefix
    // (+ a unique tail so the mint itself survives), so both copies of
    // every duplicated span provably lose it — the original keeps its
    // tail past char 160, the mint keeps only its unique tail. The
    // oracle recomputes the FULL pipeline — stride-1 grams, the ≥2
    // occurrence group, gaps-and-islands interval merge, and segment
    // reassembly — from scratch in SQL (no snapshot), so the text
    // rebuild arithmetic is pinned cross-engine character-for-character.
    QueryDef(
      "d_substring_dedup",
      (s, dir) => {
        val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
        val minted = d.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 200000000000L).as("doc_id"),
            concat(substring(col("text"), 1, 160), lit(" UNIQ_TAIL_"),
              (col("doc_id") + 200000000000L).cast("string")).as("text"))
        substringDedup(d.unionByName(minted)).orderBy("doc_id")
      },
      Some(s"""WITH src AS (SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 200000000000,
              |    substr(text, 1, 160) || ' UNIQ_TAIL_' || CAST(doc_id + 200000000000 AS VARCHAR)
              |  FROM documents WHERE doc_id % 25 = 0),
              |p AS (SELECT doc_id, text, unnest(generate_series(0, len(text) - 40)) AS pos
              |      FROM src WHERE len(text) >= 40),
              |gr AS (SELECT doc_id, pos, substr(text, pos + 1, 40) AS gram FROM p),
              |dup AS (SELECT gram FROM gr GROUP BY 1 HAVING COUNT(*) >= 2),
              |mk AS (SELECT gr.doc_id, gr.pos FROM gr SEMI JOIN dup USING (gram)),
              |${spanIslandsSql("mk")},
              |${spanRebuildSql("src")}
              |SELECT s.doc_id, COALESCE(r.text, s.text) AS text,
              |  CAST(len(s.text) - len(COALESCE(r.text, s.text)) AS BIGINT) AS n_removed
              |FROM src s LEFT JOIN reb r USING (doc_id)
              |ORDER BY doc_id""".stripMargin),
    ),
    // cross-corpus decontamination SCRUB (see decontaminateScrub):
    // same eval slice as d_decontaminate (doc_id % 97 = 0); the gate
    // mints a host doc per eval doc embedding its 160-char prefix (+
    // unique tail) so real excisions exist — the host provably keeps
    // its tail and loses the leaked span. Oracle recomputes the whole
    // scrub in SQL (eval gram set, marking, islands merge, reassembly).
    QueryDef(
      "d_decontaminate_scrub",
      (s, dir) => {
        val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
        val eval0 = d.filter(col("doc_id") % 97 === 0)
        val hosts = eval0
          .select((col("doc_id") + 300000000000L).as("doc_id"),
            concat(substring(col("text"), 1, 160), lit(" SCRUB_HOST_"),
              (col("doc_id") + 300000000000L).cast("string")).as("text"))
        decontaminateScrub(
          d.filter(col("doc_id") % 97 =!= 0).unionByName(hosts), eval0)
          .orderBy("doc_id")
      },
      Some(s"""WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
              |tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
              |  UNION ALL
              |  SELECT doc_id + 300000000000,
              |    substr(text, 1, 160) || ' SCRUB_HOST_' || CAST(doc_id + 300000000000 AS VARCHAR)
              |  FROM ev),
              |ep AS (SELECT text, unnest(generate_series(0, len(text) - 40)) AS pos
              |       FROM ev WHERE len(text) >= 40),
              |eg AS (SELECT DISTINCT substr(text, pos + 1, 40) AS gram FROM ep),
              |p AS (SELECT doc_id, text, unnest(generate_series(0, len(text) - 40)) AS pos
              |      FROM tr WHERE len(text) >= 40),
              |gr AS (SELECT doc_id, pos, substr(text, pos + 1, 40) AS gram FROM p),
              |mk AS (SELECT gr.doc_id, gr.pos FROM gr SEMI JOIN eg USING (gram)),
              |${spanIslandsSql("mk")},
              |${spanRebuildSql("tr")}
              |SELECT s.doc_id, COALESCE(r.text, s.text) AS text,
              |  CAST(len(s.text) - len(COALESCE(r.text, s.text)) AS BIGINT) AS n_removed
              |FROM tr s LEFT JOIN reb r USING (doc_id)
              |ORDER BY doc_id""".stripMargin),
    ),
  )

  /** DuckDB twin of [[winnowFingerprints]] (k=16, w=8) as composable
    * CTEs — shared by the batch d_winnow_dedup oracle and the
    * streaming st_winnow_bucketize oracle so both gates recompute the
    * SAME selection independently.
    */
  private[graft] val WinnowFpCtes: String =
    """f AS (
      |  SELECT doc_id, text,
      |    list_transform(range(0, len(text) - 15),
      |                   i -> md5(substring(text, i + 1, 16))) AS hs
      |  FROM documents WHERE len(text) >= 23),
      |sel AS (
      |  SELECT doc_id, text,
      |    list_distinct(list_transform(range(0, len(hs) - 7),
      |      j -> list_reduce(range(j, j + 8),
      |        (acc, x) -> CASE WHEN hs[x + 1] <= hs[acc + 1]
      |                    THEN x ELSE acc END))) AS ps
      |  FROM f),
      |fp AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(ps,
      |      p -> substring(text, p + 1, 16)))) AS gram
      |  FROM sel)""".stripMargin

  /** Winnowing selection for d_winnow_dedup: (doc_id, gram) rows, one
    * per SELECTED k-gram occurrence class. Doc-local throughout; see
    * the entry comment for the guarantee and density properties
    * DedupWinnowSpec pins.
    *
    * Typed mapPartitions, not SQL lambdas: the selection is a tight
    * per-document loop (n md5 digests + an O(n) monotonic-deque window
    * minimum), and interpreted higher-order functions cost ~10× the
    * arithmetic here (measured: the expression formulation ran the
    * sf0.1 corpus in 17 s vs ~2 s for this loop). Output is
    * IDENTICAL to the DuckDB twin in the entry's oracle: same md5
    * order, same rightmost-min tie-break, and indexing by CODE POINT
    * to match SQL substring semantics beyond the BMP.
    */
  private[graft] def winnowFingerprints(docs: DataFrame, k: Int = 16,
                                        w: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hexDigits = "0123456789abcdef".toCharArray
        def hex(b: Array[Byte]): String = {
          val out = new Array[Char](b.length * 2)
          var i = 0
          while (i < b.length) {
            out(2 * i) = hexDigits((b(i) >> 4) & 0xf)
            out(2 * i + 1) = hexDigits(b(i) & 0xf)
            i += 1
          }
          new String(out)
        }
        rows.flatMap { case (id, text) =>
          val cps = text.codePoints().toArray
          val n = cps.length - k + 1
          if (n < w) Iterator.empty
          else {
            val grams = new Array[String](n)
            val hs = new Array[String](n)
            var i = 0
            while (i < n) {
              grams(i) = new String(cps, i, k)
              hs(i) = hex(md.digest(
                grams(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
              i += 1
            }
            // rightmost-min per window of w via monotonic deque: pushing
            // x pops every back index with hs >= hs(x), so equal hashes
            // keep the LATEST index — the SQL fold's `<=` tie-break
            val deque = new java.util.ArrayDeque[Int](w + 1)
            val selected = new java.util.LinkedHashSet[String]()
            var x = 0
            while (x < n) {
              while (!deque.isEmpty && hs(deque.peekLast) >= hs(x)) deque.pollLast()
              deque.addLast(x)
              val j = x - w + 1 // window start once x >= w - 1
              if (j >= 0) {
                if (deque.peekFirst < j) deque.pollFirst()
                selected.add(grams(deque.peekFirst))
              }
              x += 1
            }
            val it = selected.iterator()
            new Iterator[(Long, String)] {
              def hasNext: Boolean = it.hasNext
              def next(): (Long, String) = (id, it.next())
            }
          }
        }
      }
      .toDF("doc_id", "gram")
  }
}
