package graft

import scala.jdk.CollectionConverters._

import graft.api.DedupPipeline
import org.apache.spark.TaskContext
import org.apache.spark.sql.functions._

class DedupPipelineSpec extends SparkSpec {

  test("clusters: chain and triangle collapse to smallest id") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val cl = DedupPipeline.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("clusters: un-materialized pair frame derives once (r17 single-derivation contract)") {
    import spark.implicits._
    // a NON-leaf pair frame whose derivation records the stage it runs in
    val evals = spark.sparkContext.collectionAccumulator[Int]("pair-derivation-stages")
    val pairs = spark.range(0, 100).as[Long]
      .map { i => evals.add(TaskContext.get.stageId); (i, i + 1) }.toDF("doc_a", "doc_b")
    val cl = DedupPipeline.clusters(pairs)
    assert(cl.count() == 101) // 0..100 all chain into one component
    // clusters() runs a bound-count AND a collect; without the internal
    // materialization the map above would run in a stage of each job.
    // A retried task or a resubmitted stage keeps its stage id, so this
    // holds where counting rows would not.
    val stages = evals.value.asScala.toSet
    assert(stages.size == 1, s"pair derivation ran in stages $stages")
  }

  test("clusters: a null id fails naming clusters and the column") {
    import spark.implicits._
    for ((pairs, c) <- Seq(
        Seq((Some(1L), Some(2L)), (None, Some(3L))) -> "doc_a",
        Seq((Some(1L), Some(2L)), (Some(2L), None)) -> "doc_b")) {
      val e = intercept[IllegalArgumentException](
        DedupPipeline.clusters(pairs.toDF("doc_a", "doc_b")))
      assert(e.getMessage.contains("clusters") && e.getMessage.contains(s"null $c"), e.getMessage)
    }
  }

  test("clusters: string ids fall back to the distributed path instead of null-casting") {
    import spark.implicits._
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("doc_a", "doc_b")
    val cl = DedupPipeline.clusters(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cl == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("clusters: fast path equals distributed propagation on a random graph") {
    import spark.implicits._
    // deterministic pseudo-random edges over 400 nodes (fixed LCG), so
    // the primitive union-find is checked against the iterative path on
    // a non-trivial component structure
    val es = (1 to 300).map { i =>
      val a = (i * 1103515245L + 12345L) % 400
      val b = (i * 69069L + 1L) % 400
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }
    val pairs = es.toDF("doc_a", "doc_b").localCheckpoint(true)
    val fast = DedupPipeline.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = DedupPipeline.clustersDistributed(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == dist)
  }

  test("dedup keeps one representative per near-dup cluster on the corpus") {
    val docs = Tables(spark, sfDir).documents
    val pairs = SparkEntry.queries("d_minhash_lsh")(spark, sfDir)
      .select("doc_a", "doc_b")
    val deduped = DedupPipeline.dedup(docs, pairs)
    val cl = DedupPipeline.clusters(pairs)
    val losers = cl.filter(col("doc_id") =!= col("cluster_id")).count()
    assert(deduped.count() == docs.count() - losers)
    assert(losers > 0) // the corpus genuinely contains near-dups
    // every cluster representative survives
    val reps = cl.select(col("cluster_id")).distinct().count()
    val survivingClustered = deduped.join(cl, "doc_id").count()
    assert(survivingClustered == reps)
  }

  test("dedupKeepBest: docs missing a quality row still lose — partial coverage cannot exempt near-dups") {
    import spark.implicits._
    val corpus = Seq((1L, "a"), (2L, "b"), (3L, "c"), (9L, "z"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    // quality covers only doc 2: docs 1 and 3 must rank AFTER it
    // (nulls last) and be dropped, never silently retained
    val quality = Seq((2L, 0.1)).toDF("doc_id", "quality")
    val kept = DedupPipeline.dedupKeepBest(corpus, pairs, quality)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 9L))
    // a cluster with NO quality rows still keeps exactly one member
    // (smallest id on the all-null tie)
    val keptNone = DedupPipeline.dedupKeepBest(
      corpus, pairs, Seq.empty[(Long, Double)].toDF("doc_id", "quality"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptNone == Set(1L, 9L))
  }
}
