package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** packBucketCount — the packing stage's parallelism dial (round-12
  * verdict: a fixed 32 caps the cumulative-sum stage at 32 timelines
  * regardless of cluster width, ~3 TB of sorted window state each at
  * 100 TB). Pins the corpus-derived count (gate SFs stay at the
  * historical 32 the oracles hardcode) and that t_sequence_pack's plan
  * actually honors the dial.
  */
class PackBucketsSpec extends SparkSpec {

  test("derived default: floor 32 at gate sizes, grows ~n/4096 at corpus sizes") {
    assert(TextAnalysis.packBucketCount(0L) == 32)
    assert(TextAnalysis.packBucketCount(500L) == 32)
    // the largest corpus still derived to the floor: 32 * 4096 docs
    assert(TextAnalysis.packBucketCount(32L * 4096) == 32)
    assert(TextAnalysis.packBucketCount(32L * 4096 + 1) == 33)
    // 10B docs -> ~2.4M bounded timelines, not 32 corpus-sized ones
    assert(TextAnalysis.packBucketCount(10_000_000_000L) == 2441407)
  }

  test("the packing plan honors the dial: 8 buckets, driver-recomputed bin layout") {
    val s = spark
    import s.implicits._
    val out = TextAnalysis.sequencePack(Tables(spark, sfDir).documents, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out.keys.map(_._1).toSet == (0L until 8L).toSet)
    // hand-run the greedy running-total rule per bucket and compare
    val docs = Tables(spark, sfDir).documents
      .select(col("doc_id"), expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val expected = docs.toSeq.groupBy(_._1 % 8).toSeq.flatMap { case (b, ds) =>
      var run = 0L
      ds.sortBy(_._1).map { case (_, n) =>
        val bin = run / 2048
        run += n
        ((b, bin), n)
      }
    }.groupBy(_._1).map { case (k, vs) =>
      (k, (vs.size.toLong, vs.map(_._2).sum))
    }
    assert(out == expected)
  }
}
