package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** t_crawl_frontier — sitemap-discovered URLs gated by robots and
  * ranked per host into a bounded fetch queue. Pins the scheduling
  * contract (per-host cap, contiguous ranks, priority ordering with
  * the deterministic tiebreak), that disallowed documents never reach
  * the frontier, and that the bounded-heap partial aggregate equals a
  * row_number window rank row-for-row on the gate corpus (the
  * exchange-shape substitution must be semantics-free).
  */
class CrawlFrontierSpec extends SparkSpec {

  private lazy val frontier =
    SparkEntry.queries("t_crawl_frontier")(spark, sfDir).cache()

  test("per-host cap, contiguous ranks from 1, priority-desc ordering") {
    val perHost = frontier.groupBy("host")
      .agg(count(lit(1)).as("n"), min("crawl_rank").as("lo"),
           max("crawl_rank").as("hi"))
    assert(perHost.filter(col("n") > 50 || col("lo") =!= 1 ||
      col("hi") =!= col("n")).isEmpty)
    // priority never increases as rank increases within a host
    val w = Window.partitionBy("host").orderBy("crawl_rank")
    assert(frontier.withColumn("prev", lag("priority", 1).over(w))
      .filter(col("prev").isNotNull && col("priority") > col("prev")).isEmpty)
    assert(frontier.count() > 0)
  }

  test("robots-disallowed documents never reach the frontier") {
    val disallowed = graft.operators.TextAnalysis
      .robotsDecisions(Tables(spark, sfDir).documents.select(col("doc_id")))
      .filter(!col("allowed"))
      .select(concat(lit("https://site"), (col("doc_id") % 5).cast("string"),
        lit(".test/page/"), col("doc_id").cast("string"), lit("/")).as("prefix"))
      .distinct().collect().map(_.getString(0))
    assert(disallowed.nonEmpty)
    val leaked = frontier.filter(
      disallowed.map(p => col("loc").startsWith(p)).reduce(_ || _))
    assert(leaked.isEmpty, "a disallowed doc's url reached the frontier")
  }

  test("bounded-heap top-k equals the window-rank recomputation row-for-row") {
    val d = Tables(spark, sfDir).documents
    val urls = graft.operators.TextAnalysis.sitemapUrls(d).filter(!col("is_index"))
    val robots = graft.operators.TextAnalysis
      .robotsDecisions(d.select(col("doc_id")))
      .filter(col("allowed")).select(col("doc_id"), col("crawl_delay"))
    val w = Window.partitionBy(col("doc_id") % 5)
      .orderBy(col("priority").desc, col("doc_id") * 8 + col("entry_i"))
    val viaWindow = urls.join(robots, "doc_id")
      .withColumn("crawl_rank", row_number().over(w))
      .filter(col("crawl_rank") <= 50)
      .select(
        concat(lit("site"), (col("doc_id") % 5).cast("string"), lit(".test")).as("host"),
        col("crawl_rank"), col("loc"), col("priority"), col("crawl_delay"))
    assert(frontier.except(viaWindow).isEmpty && viaWindow.except(frontier).isEmpty)
  }

  test("SKEWED hosts (one host ~60% of urls): heap still equals the window rank") {
    // the adversarial shape the bounded heap exists for: every even
    // doc lands on host 0
    val d = Tables(spark, sfDir).documents
    val host = when(pmod(col("doc_id"), lit(2L)) === 0L, lit(0L))
      .otherwise(pmod(col("doc_id"), lit(5L)))
    val skewed = graft.operators.TextAnalysis.crawlFrontier(d, host).cache()
    val urls = graft.operators.TextAnalysis.sitemapUrls(d).filter(!col("is_index"))
    val robots = graft.operators.TextAnalysis
      .robotsDecisions(d.select(col("doc_id")))
      .filter(col("allowed")).select(col("doc_id"), col("crawl_delay"))
    val w = Window.partitionBy(host)
      .orderBy(col("priority").desc, col("doc_id") * 8 + col("entry_i"))
    val viaWindow = urls.join(robots, "doc_id")
      .withColumn("crawl_rank", row_number().over(w))
      .filter(col("crawl_rank") <= 50)
      .select(concat(lit("site"), host.cast("string"), lit(".test")).as("host"),
        col("crawl_rank"), col("loc"), col("priority"), col("crawl_delay"))
    // the fixture is genuinely skewed: host 0 holds over half the urls
    val byHost = urls.join(robots, "doc_id").groupBy(host.as("h")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byHost(0L).toDouble / byHost.values.sum > 0.5)
    assert(skewed.except(viaWindow).isEmpty && viaWindow.except(skewed).isEmpty)
  }

  test("the heap's partial state never exceeds k, whatever one partition feeds it") {
    // the contract that bounds the exchange at O(hosts · k) under any
    // skew: reduce/merge keep at most k entries no matter how many
    // rows a giant host pushes through one map partition
    val agg = new graft.functions.TopKByScore(50)
    var buf = agg.zero
    (0 until 10000).foreach { i =>
      buf = agg.reduce(buf, (0L, i.toLong, (i * 37 % 1000) / 1000.0))
      assert(buf.size <= 50)
    }
    val merged = agg.merge(buf, buf)
    assert(merged.size <= 50)
    // and what survives is the true top-50 (score desc, id asc)
    val expected = (0 until 10000)
      .map(i => (i.toLong, (i * 37 % 1000) / 1000.0))
      .sortBy { case (id, s) => (-s, id) }.take(50)
    assert(agg.finish(buf) == expected)
  }
}
