package graft

import graft.api.TrainingData
import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** t_bpe_pack + prepareWeb's packByBpe arm — context windows budgeted
  * in REAL tokenizer tokens (round-12 verdict: a 2048-token window is
  * a BPE budget in every real pretraining run, and whitespace counts
  * under-fill it by the corpus's BPE-per-word ratio). Pins the bin
  * budget against hand-tokenized documents and that the BPE arm
  * changes only bin arithmetic, never survivorship.
  */
class BpePackSpec extends SparkSpec {

  test("t_bpe_pack bins are the greedy layout of HAND-TOKENIZED counts") {
    val s = spark
    import s.implicits._
    val t = Tables(spark, sfDir)
    // hand-tokenize every doc with the functions-level tokenizer: the
    // same pretoken regex + merge table, applied word by word on the
    // driver — independent of the bpeEncoded mapPartitions path
    val ranks = graft.functions.BpeTokenizer.rankTable(TextAnalysis.learnBpe(t))
    val docs = t.documents.select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    val handCounts = docs.map { case (id, text) =>
      val n = TextAnalysis.BpePretokenRegex.findAllIn(text)
        .map(w => graft.functions.BpeTokenizer.encode(w, ranks).size.toLong).sum
      id -> n
    }
    val expected = handCounts.toSeq.groupBy(_._1 % 32).toSeq.flatMap { case (b, ds) =>
      var run = 0L
      ds.sortBy(_._1).map { case (_, n) =>
        val bin = run / 512
        run += n
        ((b, bin), n)
      }
    }.groupBy(_._1).map { case (k, vs) => (k, (vs.size.toLong, vs.map(_._2).sum)) }
    val out = SparkEntry.queries("t_bpe_pack")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == expected)
    // the 512 budget makes the gate corpus genuinely pack: bins beyond
    // 0 exist on every timeline (t_sequence_pack's 2048 leaves one bin
    // per bucket here, which would pin nothing about the running sum)
    assert(out.keys.count(_._2 > 0) >= 32)
  }

  test("prepareWeb packByBpe: identical survivorship, bins respect the BPE budget") {
    val s = spark
    import s.implicits._
    val docs = Tables(spark, sfDir).documents
    // a 32-token budget: on the 32 short bucket timelines (one or two
    // train docs each) the BPE-vs-whitespace prefix drift (the
    // extracted text carries punctuation — '<end>' is three pretokens
    // to one whitespace token) must shift some bin boundary; at 64 it
    // shifts none here, and at the default 2048 every bucket fits in
    // bin 0, so the two accountings would be indistinguishable
    val budget = 32
    val base = TrainingData.prepareWeb(docs, oracleHash = true, binTokens = budget)
    val bpe = TrainingData.prepareWeb(docs, oracleHash = true, binTokens = budget,
      packByBpe = true)
    // the arm only changes bin arithmetic: every stage count identical
    assert(bpe.stages == base.stages)
    assert(bpe.corpus.select("doc_id").except(base.corpus.select("doc_id")).isEmpty)
    // ...but the bin layout itself shifts: real-tokenizer budgeting is
    // observable, not a no-op relabel
    assert(bpe.corpus.select(col("doc_id"), col("bin"))
      .join(base.corpus.select(col("doc_id"), col("bin").as("ws_bin")), "doc_id")
      .filter(col("bin") =!= col("ws_bin")).count() > 0)
    // recompute the survivors' BPE counts and check the greedy rule in
    // BPE units: no bin was already full before its last doc
    val ranks = graft.functions.BpeTokenizer.rankTable(
      TextAnalysis.learnBpeFrom(bpe.corpus.select(col("doc_id"), col("text"))))
    val counts = TextAnalysis.bpeEncoded(
        bpe.corpus.select(col("doc_id"), col("text")), ranks)
      .select(col("doc_id"), col("n_bpe_tokens"))
    val overfull = bpe.corpus.filter(col("split") === "train")
      .join(counts, "doc_id")
      .groupBy("bin")
      .agg(sum("n_bpe_tokens").as("t"), max("n_bpe_tokens").as("m"))
      .filter(col("t") - col("m") >= budget)
    assert(overfull.isEmpty, "a BPE bin was already full before its last doc")
  }
}
