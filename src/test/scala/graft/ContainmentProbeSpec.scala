package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

/** d_containment_probe — prefix-filtering containment candidates for
  * short documents. Pins the operator's whole reason to exist: recall
  * is 1 BY CONSTRUCTION against a brute-force containment scan
  * (modulo the shared hot-shingle cap, exercised separately), it
  * catches excerpt pairs whose Jaccard sits below the banded path's
  * collision knee, and the asymmetric |A∩B|/|A| measure reads ≈ 1 for
  * a true excerpt.
  */
class ContainmentProbeSpec extends SparkSpec {

  import spark.implicits._

  test("recall 1 vs brute force on the gate corpus's short docs") {
    val docs = Tables(spark, sfDir).documents
    val sh = Dedup.shingles(docs)
    val short = sh.filter(size(col("sh")) <= 20)
      .select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    assert(short.count() > 0, "gate corpus must carry short docs")
    // brute force: every short doc against every doc (spec-only scan)
    val brute = short.crossJoin(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a")), 4).as("containment"))
      .filter(col("containment") >= 0.5)
    val probed = Dedup.containmentProbePairs(docs)
    // the cap can only DROP pairs; on this corpus no shingle of a
    // short doc is hot, so the sets must be identical
    assert(brute.except(probed).isEmpty && probed.except(brute).isEmpty)
  }

  test("catches every excerpt; the banded path provably misses some") {
    // 20 hosts, each with a 10-token excerpt doc: containment is 1.0
    // for every pair, but the pairs' Jaccard (~0.14) sits below the
    // banded LSH collision knee, so candidate GENERATION only fires
    // with P = 1-(1-j^r)^b ≈ 14% per pair — md5 makes the outcome
    // deterministic, and across 20 pairs at least one must miss (the
    // documented limit this operator exists to close)
    val docs = (0 until 20).flatMap { k =>
      val words = (1 to 60).map(i => s"k${k}w$i")
      Seq((k * 2L, words.mkString(" ")),
          (k * 2L + 1, words.slice(20, 30).mkString(" ")))
    }.toDF("doc_id", "text")
    val probed = Dedup.containmentProbePairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    (0 until 20).foreach { k =>
      assert(probed.contains((k * 2L + 1, k * 2L, 1.0)),
        s"probe missed excerpt pair $k")
    }
    val banded = Dedup.containmentPairs(docs).count()
    assert(banded < 20,
      "banded path caught every excerpt - the fixture no longer shows the knee")
  }

  test("past the 4M probe-gram bound the restriction is skipped; same pairs") {
    val docs = Tables(spark, sfDir).documents
    // whether any executed query ran the probe-gram restriction: the
    // left semi join on the gram hash `gh`
    def run(pairs: => DataFrame): (Set[(Long, Long, Double)], Boolean) = {
      val (got, ran) = ExecutedPlans.during(spark) {
        pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      }
      (got, ran.exists(_.optimizedPlan.exists {
        case j: Join => j.joinType == LeftSemi &&
          j.condition.exists(_.references.exists(_.name == "gh"))
        case _ => false
      }))
    }
    val (base, baseRestricted) = run(Dedup.containmentProbePairs(docs))
    assert(baseRestricted, "the gate corpus's probe set should take the restriction")
    // 200,001 probes × 20 shingles is past the 4M-gram broadcast bound
    val (skipped, skippedRestricted) = run(
      Dedup.containmentProbePairsOn(Dedup.shingles(docs), knownProbeCount = 200001))
    assert(!skippedRestricted, "the restriction ran past its bound")
    assert(skipped === base)
  }

  test("hot-shingle cap drops boilerplate keys on BOTH sides, not just the index") {
    // 65 docs sharing one boilerplate shingle exceed MaxBucket=64: the
    // key must vanish from probe and index alike — no pair from it
    val boiler = (0 until 70).map(i => (i.toLong, s"the same boilerplate u$i"))
    val docs = boiler.toDF("doc_id", "text")
    // each text: 4 tokens -> shingles {the same boilerplate, same boilerplate uI}
    val pairs = Dedup.containmentProbePairs(docs)
    assert(pairs.isEmpty, "a >MaxBucket shingle key leaked into candidates")
  }
}
