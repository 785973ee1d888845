package graft

import scala.jdk.CollectionConverters._

import graft.api.TrainingData
import graft.operators.{TextAnalysis, WebPipeline}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** api.TrainingData.prepareWeb / d_web_pipeline — the one-call
  * WEB-corpus pipeline. Pins the attrition-accounting CONTRACT (stage
  * order, monotonicity, every drop attributable to exactly one stage,
  * set-level nesting), that the gate corpus actually exercises every
  * dropping stage, the necessity of the Gopher stopword re-threshold,
  * and the output frame's invariants. The cross-engine stage counts
  * themselves are the driver gate's job (chained-CTE DuckDB oracle).
  */
class WebPipelineSpec extends SparkSpec {

  private lazy val docs = Tables(spark, sfDir).documents
  private lazy val prepared = TrainingData.prepareWeb(docs, oracleHash = true)
  private lazy val byStage = prepared.stages.toMap

  test("stage order matches the registry contract and counts are monotone") {
    assert(prepared.stages.map(_._1) == WebPipeline.StageNames)
    prepared.stages.sliding(2).foreach { case Seq((a, na), (b, nb)) =>
      assert(na >= nb, s"$a=$na < $b=$nb")
    }
    assert(byStage("final") > 0, "pipeline must not zero the corpus")
  }

  test("every dropped doc is attributable to exactly one stage (drops telescope)") {
    val drops = prepared.stages.sliding(2).map {
      case Seq((_, na), (_, nb)) => na - nb
    }.toSeq
    assert(drops.sum == byStage("raw") - byStage("final"))
    // stages are strictly nested filters, so per-stage drops are the
    // full attribution: nothing is dropped twice, nothing silently
    assert(drops.forall(_ >= 0))
  }

  test("the gate corpus exercises every dropping stage") {
    def drop(a: String, b: String) = byStage(a) - byStage(b)
    assert(drop("warc_fetch", "robots_gate") > 0, "robots gate idle")
    assert(drop("robots_gate", "url_dedup") > 0, "url dedup idle")
    assert(drop("url_dedup", "filter_gopher") > 0, "gopher idle")
    assert(drop("filter_gopher", "filter_gopher_rep") > 0, "repetition battery idle")
    assert(drop("filter_gopher_rep", "filter_c4") > 0, "c4 idle")
    assert(drop("filter_c4", "filter_fineweb") > 0, "fineweb idle")
    assert(drop("exact_dedup", "neardup_keepbest") > 0, "near-dup keeper idle")
    assert(drop("neardup_keepbest", "ccnet_keep") > 0, "ccnet cut idle")
    // fetch and split/pack must drop NOTHING: every document round-trips
    // the WARC chain, and packing only adds columns
    assert(drop("raw", "warc_fetch") == 0)
    assert(drop("ccnet_keep", "final") == 0)
  }

  test("output is set-nested in the input and duplicate-free on url and text") {
    val out = prepared.corpus
    assert(out.join(docs, Seq("doc_id"), "left_anti").isEmpty)
    val n = out.count()
    assert(out.select("canon_url").distinct().count() == n)
    assert(out.select(md5(col("text"))).distinct().count() == n)
    // no surviving near-dup pair has both sides kept (same pair set the
    // keeper stage acted on — the TrainingDataSpec convention)
    val ids = out.select("doc_id")
    assert(prepared.pairs
      .join(ids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
      .join(ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
      .isEmpty)
    assert(prepared.pairs.count() > 0, "testdata must exercise the keeper")
  }

  test("the Gopher stopword re-threshold is NECESSARY: the paper floor zeroes this corpus") {
    // prepareWeb gates on stop_hits >= 1 instead of the published >= 2
    // (documented divergence) — prove the corpus forces it: the
    // extracted text passes ZERO documents under the full Gopher pass
    val extracted = docs.select(col("doc_id"),
      concat(concat_ws(" ",
        filter(split(col("text"), " "), w => w =!= "")),
        lit(" Tail & @ <end>")).as("text"))
    assert(TextAnalysis.gopherRules(extracted).filter(col("pass")).isEmpty,
      "corpus now passes the paper floor - restore stop_hits >= 2 in prepareWeb")
    // ...and the re-thresholded gate keeps a nonzero, strict subset
    assert(byStage("filter_gopher") > 0 &&
      byStage("filter_gopher") < byStage("url_dedup"))
  }

  test("ccnet keeps exactly the head+middle terciles of the SURVIVOR corpus") {
    // recompute buckets over the neardup survivors and compare sets
    val survivors = prepared.corpus.select("doc_id", "text")
    val buckets = TextAnalysis.ccnetBuckets(survivors)
    // every kept doc is head or middle IN THE KEPT FRAME's own column
    assert(prepared.corpus.filter(col("bucket") === "tail").isEmpty)
    assert(prepared.corpus.select("bucket").distinct().count() == 2)
    // and the carried surprisal column is the ccnet scalar of the text
    val joined = prepared.corpus.select(col("doc_id"), col("n_tokens"))
      .join(buckets.select(col("doc_id"), col("n_tokens").as("n2")), "doc_id")
    assert(joined.filter(col("n_tokens") =!= col("n2")).isEmpty)
  }

  test("splits are disjoint+exhaustive and the packer respects the bin budget") {
    val out = prepared.corpus
    val bySplit = out.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    assert(bySplit.values.sum == byStage("final"))
    // bins: only train rows carry one, and no bin exceeds budget +
    // one overhanging doc (the running-total bin rule)
    assert(out.filter(col("split") =!= "train" && col("bin").isNotNull).isEmpty)
    val overfull = out.filter(col("split") === "train")
      .groupBy("bin").agg(sum("n_tokens").as("t"), max("n_tokens").as("m"))
      .filter(col("t") - col("m") >= 2048)
    assert(overfull.isEmpty, "a bin was already full before its last doc")
  }

  test("an embedded short excerpt below the banded knee is deduped by the probe arm") {
    val s = spark
    import s.implicits._
    // candidate sources: long survivors of the baseline run whose first
    // 50 raw words contain 'the' (the re-thresholded Gopher floor needs
    // one stopword in the excerpt too)
    val rawById = docs.select("doc_id", "text").as[(Long, String)]
      .collect().toMap
    val survivors = prepared.corpus.select("doc_id").as[Long].collect().toSet
    val candidates = rawById.collect { case (id, t)
      if survivors(id) && {
        val w = t.split(" ").filter(_.nonEmpty)
        w.length >= 99 && w.take(50).contains("the")
      } => id
    }.toSeq.sorted
    assert(candidates.nonEmpty, "no excerpt-able survivor in the gate corpus")
    // mirror of the fetch chain's closed form (HtmlTextOutSql): the
    // extractor emits the non-empty raw words plus the fixed tail
    def extracted(t: String): String =
      (t.split(" ").filter(_.nonEmpty) ++ Seq("Tail", "&", "@", "<end>")).mkString(" ")
    def shingleSet(t: String): Set[String] =
      graft.operators.Dedup.shingles(Seq((0L, t)).toDF("doc_id", "text"))
        .select("sh").as[Seq[String]].head().toSet
    // STRUCTURAL selection, not recall luck: exact Jaccard below
    // minhashLsh's verification tau (so the banded arm CANNOT emit the
    // pair no matter how the bands collide) while exact containment
    // clears the probe's — precisely the recall hole the probe closes
    val chosen = candidates.iterator.map { id =>
      val excRaw = rawById(id).split(" ").filter(_.nonEmpty).take(50).mkString(" ")
      val (shS, shE) = (shingleSet(extracted(rawById(id))), shingleSet(extracted(excRaw)))
      val inter = (shS & shE).size.toDouble
      (id, excRaw, inter / (shS.size + shE.size - inter), inter / shE.size)
    }.find { case (_, _, j, c) => j < 0.5 && c >= 0.5 }
    assert(chosen.nonEmpty, "corpus shape changed: no sub-knee excerpt constructible")
    val (srcId, excRaw, _, _) = chosen.get
    // the robots / C4-page / FineWeb-page fixtures all key off doc_id
    // residues, so pick a fresh id whose fixture arms pass every gate
    // (probed against the SAME gate predicates prepareWeb applies);
    // % 10 != 7 keeps its canonical URL collision-free
    val mintedId = {
      val ids = (20000001L to 20000400L).filter(_ % 10 != 7)
      val candX = ids.map(d => (d, extracted(excRaw))).toDF("doc_id", "text")
      def passing(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id").as[Long].collect().toSet
      val rob = passing(TextAnalysis.robotsDecisions(candX.select("doc_id"))
        .filter(col("allowed")))
      val gop = passing(TextAnalysis.gopherRules(candX)
        .filter(col("pass_words") && col("pass_mean_len") && col("pass_symbol") &&
          col("pass_bullet") && col("pass_ellipsis") && col("pass_alpha") &&
          col("stop_hits") >= 1))
      val rep = passing(TextAnalysis.gopherRepetition(candX).filter(col("pass")))
      val c4 = passing(TextAnalysis.c4Rules(TextAnalysis.c4PageTable(candX))
        .filter(col("pass")))
      val fw = passing(TextAnalysis.finewebRules(TextAnalysis.fwPageTable(candX))
        .filter(col("pass")))
      val ok = ids.filter(d => rob(d) && gop(d) && rep(d) && c4(d) && fw(d))
      assert(ok.nonEmpty, "no fixture-passing id in the probe window")
      ok.head
    }
    val docs2 = docs.select("doc_id", "text")
      .unionByName(Seq((mintedId, excRaw)).toDF("doc_id", "text"))
    val p2 = TrainingData.prepareWeb(docs2, oracleHash = true)
    assert(p2.pairs.filter(col("doc_a") === srcId && col("doc_b") === mintedId)
      .count() == 1, "probe arm failed to pair the embedded excerpt")
    val kept = p2.corpus.filter(col("doc_id").isin(srcId, mintedId))
      .select("doc_id").as[Long].collect().toSet
    assert(kept.size <= 1, "keep-best kept both sides of the excerpt pair")
  }

  test("the probe threshold is the integer-rank bottom decile of survivor shingle counts") {
    val s = spark
    import s.implicits._
    // 20 docs: sizes 5..24 words -> shingle counts 3..22; need =
    // ceil(20/10) = 2 -> the 2nd-smallest size (4 shingles) is the
    // smallest count whose cumulative coverage reaches 2
    val docs = (0 until 20).map { i =>
      (i.toLong, (1 to (5 + i)).map(j => s"w${i}x$j").mkString(" "))
    }.toDF("doc_id", "text")
    assert(TrainingData.survivorProbeThreshold(docs, 20L) == 4)
    // ties count as a whole value group: ten 5-word docs share count 3
    val tied = (0 until 10).map { i =>
      (i.toLong, (1 to 5).map(j => s"t${i}x$j").mkString(" "))
    }.toDF("doc_id", "text")
    assert(TrainingData.survivorProbeThreshold(tied, 10L) == 3)
    // empty frame -> no decile -> no probes
    assert(TrainingData.survivorProbeThreshold(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), 0L) == 0)
  }

  test("the model-quality arm drops rule-passing docs that survive without it") {
    val s = spark
    import s.implicits._
    val m = TrainingData.prepareWeb(docs, oracleHash = true, modelQuality = true)
    assert(m.stages.map(_._1) == WebPipeline.StageNamesModel)
    // the shared 11-stage prefix is IDENTICAL — the arm only adds its
    // own attrition row before final
    assert(m.stages.take(11) == prepared.stages.take(11))
    val byM = m.stages.toMap
    assert(byM("model_keep") < byM("ccnet_keep"), "model filter idle")
    assert(byM("model_keep") == byM("final"))
    // every model-dropped doc passed the WHOLE rule battery + dedup +
    // ccnet cut (it is a baseline-final survivor) and survives the run
    // without the arm — the recall cost is attributable to the model
    // stage alone
    val baseIds = prepared.corpus.select("doc_id").as[Long].collect().toSet
    val modelIds = m.corpus.select("doc_id").as[Long].collect().toSet
    assert(modelIds.subsetOf(baseIds))
    val dropped = baseIds -- modelIds
    assert(dropped.nonEmpty, "arm dropped nothing")
    // the cut is the survivors' bottom score decile — roughly 10%
    assert(dropped.size <= math.ceil(0.25 * baseIds.size),
      s"model cut dropped ${dropped.size} of ${baseIds.size} — not a decile cut")
  }

  test("the exact-substring arm drops partial duplicates both near-dup arms keep") {
    // the "d_web_pipeline_substr" gate entry's composition: documents
    // ∪ the minted ~60%-overlap partial duplicates, exactSubstr arm on
    val s = spark
    import s.implicits._
    val d = docs.select(col("doc_id"), col("text"))
    val minted = d.filter(col("doc_id") % 20 === 3)
      .select((col("doc_id") + 420000000000L).as("doc_id"),
        expr(WebPipeline.substrMintTextSpark).as("text"))
    val union = d.unionByName(minted)
    val base = TrainingData.prepareWeb(union, oracleHash = true)
    val armed = TrainingData.prepareWeb(union, oracleHash = true, exactSubstr = true)
    assert(armed.stages.map(_._1) == WebPipeline.StageNamesSubstr)
    // the shared 10-stage prefix is IDENTICAL — the arm only inserts
    // its own attrition row between the near-dup keeper and ccnet
    assert(armed.stages.take(10) == base.stages.take(10))
    val byA = armed.stages.toMap
    assert(byA("substr_keep") < byA("neardup_keepbest"), "substr arm idle")

    // the blind-spot geometry, pinned on a concrete minted pair over
    // the EXTRACTED texts the dedup stages actually see: the partial
    // duplicate is (a) invisible to near-dup verification — exact
    // Jaccard below the 0.5 tau, and both docs are full-length so
    // neither qualifies as a containment probe — yet (b) more than
    // half covered by duplicated spans, so the substr stage drops BOTH
    def extracted(t: String): String =
      (t.split(" ").filter(_.nonEmpty) ++ Seq("Tail", "&", "@", "<end>")).mkString(" ")
    val mintById = minted.as[(Long, String)].collect().toMap
    val srcById = d.filter(col("doc_id") % 20 === 3).as[(Long, String)].collect().toMap
    val pair = srcById.keys.toSeq.sorted.iterator.map { id =>
      val (se, me) = (extracted(srcById(id)), extracted(mintById(id + 420000000000L)))
      def sh(t: String) = graft.operators.Dedup
        .shingles(Seq((0L, t)).toDF("doc_id", "text"))
        .select("sh").as[Seq[String]].head().toSet
      val (a, b) = (sh(se), sh(me))
      val j = (a & b).size.toDouble / (a | b).size
      (id, se, me, j)
    }.find(_._4 < 0.5)
    assert(pair.nonEmpty, "no minted pair sits below the verification tau")
    val (id, se, me, _) = pair.get
    val cov = graft.operators.Dedup
      .substringDedup(Seq((1L, se), (2L, me)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1).length, r.getLong(2)))).toMap
    assert(cov(1L)._2 > cov(1L)._1.toLong, s"source $id not mostly-covered")
    assert(cov(2L)._2 > cov(2L)._1.toLong, s"mint of $id not mostly-covered")
  }

  test("the decontamination arm drops a leaked survivor that survives without it") {
    val s = spark
    import s.implicits._
    // the gate entry's eval mint: 120-char verbatim excerpts of the
    // EXTRACTED text of every 20th doc — each excerpt source that
    // reaches ccnet is a guaranteed eval leak
    val ev = TextAnalysis.warcBlobs(docs.filter(col("doc_id") % 20 === 5))
      .flatMap { case (_, blob) =>
        graft.functions.WarcRecords.parse(blob).getOrElse(Seq.empty)
          .map(TextAnalysis.warcPageText)
      }.toDF("doc_id", "url", "text")
      .filter(length(col("text")) >= 49)
      .select(expr("substring(text, 10, 120)").as("text"))
    val armed = TrainingData.prepareWeb(docs, oracleHash = true,
      decontaminateEval = Some(ev))
    assert(armed.stages.map(_._1) == WebPipeline.StageNamesDecontam)
    // the shared prefix is IDENTICAL — the arm only adds its own row
    assert(armed.stages.take(11) == prepared.stages.take(11))
    val byA = armed.stages.toMap
    assert(byA("decontam_keep") < byA("ccnet_keep"), "decontam arm idle")
    assert(byA("decontam_keep") == byA("final"))
    val baseIds = prepared.corpus.select("doc_id").as[Long].collect().toSet
    val armedIds = armed.corpus.select("doc_id").as[Long].collect().toSet
    assert(armedIds.subsetOf(baseIds))
    // every excerpt-source survivor is a leak by construction: it must
    // drop with the arm on, and each one survives the armless run (the
    // arm's drops are EXACTLY the baseline survivors with doc_id%20==5
    // plus any survivor sharing a 40-char span with an excerpt)
    val leaked = baseIds.filter(_ % 20 == 5)
    assert(leaked.nonEmpty, "gate corpus has no ccnet-surviving excerpt source")
    assert(leaked.forall(!armedIds.contains(_)),
      "a doc whose own excerpt is in the eval set survived the scrub")
    assert((baseIds -- armedIds).nonEmpty)
  }

  test("all three arms compose: full stage vector, each arm's drops attributable") {
    val s = spark
    import s.implicits._
    // the d_web_pipeline_full gate composition: substr-arm minted
    // partial duplicates (doc_id % 20 = 3 sources) ∪ the corpus, plus
    // the decontam arm's verbatim-excerpt eval mint (% 20 = 5 sources)
    // — disjoint residues by construction
    val d = docs.select(col("doc_id"), col("text"))
    val minted = d.filter(col("doc_id") % 20 === 3)
      .select((col("doc_id") + 420000000000L).as("doc_id"),
        expr(WebPipeline.substrMintTextSpark).as("text"))
    val union = d.unionByName(minted)
    val ev = TextAnalysis.warcBlobs(union.filter(col("doc_id") % 20 === 5))
      .flatMap { case (_, blob) =>
        graft.functions.WarcRecords.parse(blob).getOrElse(Seq.empty)
          .map(TextAnalysis.warcPageText)
      }.toDF("doc_id", "url", "text")
      .filter(length(col("text")) >= 49)
      .select(expr("substring(text, 10, 120)").as("text"))
    val substrOnly = TrainingData.prepareWeb(union, oracleHash = true,
      exactSubstr = true)
    val full = TrainingData.prepareWeb(union, oracleHash = true,
      modelQuality = true, exactSubstr = true, decontaminateEval = Some(ev))
    assert(full.stages.map(_._1) == WebPipeline.StageNamesFull)
    // the shared 12-stage prefix (through ccnet_keep) is IDENTICAL to
    // the substr-only run — the two tail arms only append their own
    // attrition rows, so every drop through ccnet is attributable to
    // the same stage it was in the one-arm runs
    assert(full.stages.take(12) == substrOnly.stages.take(12))
    val byF = full.stages.toMap
    // every arm drops on the gate corpus — the composition exercises
    // each arm's filter, not just its plumbing
    assert(byF("substr_keep") < byF("neardup_keepbest"), "substr arm idle")
    assert(byF("model_keep") < byF("ccnet_keep"), "model arm idle")
    assert(byF("decontam_keep") < byF("model_keep"), "decontam arm idle")
    assert(byF("decontam_keep") == byF("final"))
    // drops telescope: nothing double-counted across the arm stack
    val dropsSum = full.stages.sliding(2)
      .map { case Seq((_, na), (_, nb)) => na - nb }.sum
    assert(dropsSum == byF("raw") - byF("final"))
    // arm-interaction semantics, pinned set-level: the decontam arm's
    // drops are exactly the model survivors marked by the eval grams —
    // every full-run survivor is a model-arm survivor, and every
    // excerpt-source (leak-by-construction) model survivor dropped
    val fullIds = full.corpus.select("doc_id").as[Long].collect().toSet
    assert(fullIds.forall(_ % 20 != 5),
      "a doc whose own excerpt is in the eval set survived the full stack")
    // the substr arm still acts inside the composition: a minted
    // partial duplicate and its source NEVER both survive — if both
    // reach the substr stage, both are > half covered and both drop;
    // if one dropped earlier, at most one remains. (Near-dup cannot
    // claim this pair: Jaccard ≈ 0.43 sits below the 0.5 tau.)
    val mintedSurvivorSources =
      fullIds.filter(_ >= 420000000000L).map(_ - 420000000000L)
    assert((mintedSurvivorSources & fullIds).isEmpty,
      "a minted partial duplicate and its source both survived the full stack")
  }

  test("production-hash path (xxhash64) reproduces the oracle path's stage counts") {
    // independent LSH samplings each have ~1-(1-j^r)^b recall, so pair
    // SETS can differ in principle; on the gate corpus they agree
    // (DedupLsh64Spec pins the raw pair parity) and so must every
    // downstream stage count
    val fast = TrainingData.prepareWeb(docs, oracleHash = false)
    assert(fast.stages == prepared.stages)
  }

  test("every job of a default prepareWeb is labeled web:<stage>; the caller's label survives") {
    val sc = spark.sparkContext
    val input = docs // the parquet schema read is the caller's job
    // the group keeps jobs other threads submit out of the tally
    val group = "web-attribution"
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => labels.add(Option(p.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "caller-label")
    try {
      val p = TrainingData.prepareWeb(input)
      assert(sc.getLocalProperty("spark.job.description") == "caller-label")
      // listener events arrive in order: once the sentinel job is seen,
      // every prepareWeb job has been too
      sc.setJobDescription("sentinel")
      spark.range(1).count()
      eventually(timeout(60.seconds)) { assert(labels.contains(Some("sentinel"))) }
      val web = labels.asScala.toSeq.takeWhile(_ != Some("sentinel"))
      val stageNames = p.stages.map(_._1).toSet
      assert(web.forall(_.exists(_.startsWith("web:"))), web.mkString("job labels: ", ", ", ""))
      assert(web.flatten.map(_.stripPrefix("web:").takeWhile(_ != '/')).toSet == stageNames)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
