package graft

import graft.api.DmarcAnalytics._
import graft.sources.DmarcReader
import org.apache.spark.sql.DataFrame

/** Dashboard API over real parsed sample reports: invariants every panel
  * must satisfy.
  */
class DmarcAnalyticsSpec extends SparkSpec {

  private lazy val records: DataFrame =
    DmarcReader.aggregateRecords(spark, s"${DmarcFixtures.Root}/aggregate").toDF().cache()
  private lazy val forensic: DataFrame =
    DmarcReader.forensicReports(spark, s"${DmarcFixtures.Root}/forensic", "*.eml").toDF().cache()

  test("daily volume sums to total message count") {
    val daily = dailyVolume(records).agg(org.apache.spark.sql.functions.sum("total_messages"))
      .collect().head.getLong(0)
    val total = records.agg(org.apache.spark.sql.functions.sum("count"))
      .collect().head.getLong(0)
    assert(daily == total && total > 0)
  }

  test("compliance rate within [0,100] and consistent with pass/fail split") {
    val rate = complianceRate(records).collect().head.getDouble(0)
    assert(rate >= 0.0 && rate <= 100.0)
    val pf = passFailBreakdown(records).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val pass = pf.getOrElse("Pass", 0L); val fail = pf.getOrElse("Fail", 0L)
    val expected = math.rint(pass * 10000.0 / (pass + fail)) / 100
    assert(math.abs(rate - expected) < 0.01)
  }

  test("disposition breakdown covers all messages") {
    val d = dispositionBreakdown(records)
      .agg(org.apache.spark.sql.functions.sum("messages")).collect().head.getLong(0)
    val total = records.agg(org.apache.spark.sql.functions.sum("count"))
      .collect().head.getLong(0)
    assert(d == total)
  }

  test("org compliance: one row per org, rates bounded") {
    val rows = orgCompliance(records).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(0)).distinct.length == rows.length)
    assert(rows.forall(r => r.getDouble(2) >= 0 && r.getDouble(2) <= 100))
  }

  test("topSources respects the volume floor") {
    val rows = topSources(records, minMessages = 1, n = 50).collect()
    assert(rows.forall(_.getLong(3) > 1))
  }

  test("topCountries returns real countries on enriched records") {
    val enriched = DmarcReader.enrichedRecords(spark, s"${DmarcFixtures.Root}/aggregate")
    val rows = topCountries(enriched).collect()
    assert(rows.nonEmpty, "geo enrichment left every record Unknown")
    assert(rows.forall(_.getString(0) != "Unknown"))
    assert(rows.forall(_.getLong(1) > 0))
    // rDNS/base-domain family filled for every matched record
    val matched = enriched.filter(org.apache.spark.sql.functions.col("source_country") =!= "Unknown")
    assert(matched.filter(org.apache.spark.sql.functions.col("source_base_domain") === "").count() == 0)
  }

  test("summaryJson mirrors the reference server's document shape") {
    import spark.implicits._
    val enriched = DmarcReader.enrichedRecords(spark, s"${DmarcFixtures.Root}/aggregate")
    val tls = DmarcReader.tlsReports(spark, s"${DmarcFixtures.Root}/smtp_tls").toDF()
    val json = graft.api.DmarcAnalytics.summaryJson(enriched, forensic, Some(tls))
    // parse with Spark's JSON reader: malformed JSON → corrupt-record col
    val parsed = spark.read.option("mode", "FAILFAST").json(Seq(json).toDS())
    val fields = parsed.schema.fieldNames.toSet
    // top-level shape = handleRoot + handleHealth + metrics + summary
    assert(fields == Set("service", "version", "status", "timestamp",
                         "endpoints", "metrics", "summary"))
    val row = parsed.collect().head
    assert(row.getAs[String]("service") == "parsedmarc-go")
    assert(row.getAs[String]("version") == "1.0.0")
    assert(row.getAs[String]("status") == "healthy")
    // endpoint map matches server.go's route table
    val endpoints = parsed.select("endpoints.*").schema.fieldNames.toSet
    assert(endpoints == Set("health", "dmarc_report", "metrics"))
    // metric family name matches internal/metrics/metrics.go
    val metrics = parsed.select("metrics.*").schema.fieldNames.toSet
    assert(metrics.contains("parsedmarc_parser_reports_total"))
    // all three of the reference counter family's type labels
    val types = parsed.select("metrics.parsedmarc_parser_reports_total.*")
      .schema.fieldNames.toSet
    assert(types == Set("aggregate", "forensic", "smtp_tls"))
    val tlsN = parsed.select("metrics.parsedmarc_parser_reports_total.smtp_tls")
      .collect().head.getLong(0)
    assert(tlsN == 4L)
    // summary panels populated from the corpus
    val nOrgs = parsed.select(org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.col("summary.top_orgs"))).collect().head.getInt(0)
    assert(nOrgs > 0)
    val nCountries = parsed.select(org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.col("summary.top_countries"))).collect().head.getInt(0)
    assert(nCountries > 0)
  }

  test("writeSummary produces a readable single-file JSON document") {
    val enriched = DmarcReader.enrichedRecords(spark, s"${DmarcFixtures.Root}/aggregate")
    val out = java.nio.file.Files.createTempDirectory("summary").resolve("summary.json")
    graft.api.DmarcAnalytics.writeSummary(enriched, forensic, out.toString)
    val back = new String(java.nio.file.Files.readAllBytes(out), "UTF-8")
    assert(back.contains("\"parsedmarc_parser_reports_total\""))
  }

  test("topForensicSources returns real countries on enriched forensic reports") {
    import org.apache.spark.sql.functions.col
    val enriched = DmarcReader.enrichedForensic(
      spark, s"${DmarcFixtures.Root}/forensic", "*.eml")
    assert(enriched.count() == forensic.count())
    // every sample sources from 198.51.100.0/24 → fixture octet 198 → CA
    assert(enriched.filter(col("source.country") === "Unknown").count() == 0)
    assert(enriched.filter(col("source.baseDomain") === "").count() == 0)
    val rows = topForensicSources(enriched).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(2) != "Unknown"),
           "forensic Top Source Countries panel still Unknown-only")
    // the struct rebuild must not disturb the untouched fields
    assert(enriched.select("reportedDomain").distinct().count() ==
           forensic.select("reportedDomain").distinct().count())
    // the Top Source Countries panel itself: counts cover every report
    val countries = forensicTopCountries(enriched).collect()
    assert(countries.nonEmpty)
    assert(countries.map(_.getLong(1)).sum == forensic.count())
    // and on the raw (unenriched) parse it is empty — the documented gap
    assert(forensicTopCountries(forensic).isEmpty)
  }

  test("forensic panels run on parsed ARF corpus") {
    assert(forensicPerDay(forensic).count() > 0)
    val ft = feedbackTypeBreakdown(forensic).collect()
    assert(ft.map(_.getLong(1)).sum == forensic.count())
    assert(deliveryResultBreakdown(forensic).count() > 0)
    val domains = topReportedDomains(forensic).collect()
    assert(domains.nonEmpty && domains.forall(_.getLong(1) > 0))
    assert(topForensicSources(forensic).count() > 0)
  }
}
