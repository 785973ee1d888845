package graft

import java.nio.file.{Files, Path}

import org.apache.spark.metrics.source.CodegenMetrics

import graft.api.{TlsAnalytics, TrainingData}
import graft.functions.GeoEnrichment
import graft.operators.Dedup
import graft.sources.{AggregateRecordRow, DmarcReader, OutputWriters}

/** Spark's generated-class cache holds graft's working set: a warm run
  * of a composite compiles no generated class. A stage that grows the
  * working set past [[GraftSession.CodegenCacheEntries]] fails here as a
  * compile count.
  */
class CodegenCacheSpec extends SparkSpec {

  /** Janino compilations run by `body` (the metric counts every cache miss). */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Compilations of each run of `pass`: three runs, then more until one
    * compiles nothing, six at most. Each run plans afresh, and AQE picks
    * some broadcast build sides from runtime sizes and numbers
    * whole-stage classes in the order their stages were created, so an
    * early warm run can still meet generated code the runs before it
    * did not produce (measured: the third web run compiled 4–8 classes
    * in three of five sessions, 0 in two; each session had a run that
    * compiled 0 by its fourth). Those variants are few and each compiles
    * once; a cache smaller than the working set instead recompiles
    * hundreds of classes on every run.
    */
  private def warmRuns(pass: Int => Unit): Seq[Long] = {
    val runs = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (runs.size < 3 || (runs.size < 6 && runs.last > 0))
      runs += compiles(pass(runs.size + 1))
    runs.toSeq
  }

  test("the session's generated-class cache is sized by GraftSession.CodegenCacheEntries") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("whole-stage class names carry no codegen stage id") {
    // AQE numbers stages in creation order; identical code planned
    // under a new stage id must still hit the cache
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("a warm prepareWeb + containmentProbePairs run compiles no generated class") {
    val runs = warmRuns { _ =>
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      TrainingData.prepareWeb(docs).corpus.count()
      Dedup.containmentProbePairs(docs).select("doc_a", "doc_b").collect()
    }
    assert(runs.last == 0, s"compilations per run: ${runs.mkString(", ")}")
  }

  test("a warm DMARC ingest run (read, enrich, five tables, CSV) compiles no generated class") {
    val dir = Files.createTempDirectory("codegen-cache")
    def put(family: String, name: String, text: String): Path = {
      Files.createDirectories(dir.resolve(family))
      Files.write(dir.resolve(family).resolve(name), text.getBytes("UTF-8"))
    }
    put("aggregate", "r1.xml",
      """<?xml version="1.0"?><feedback><report_metadata><org_name>acme</org_name>
        |<report_id>r1</report_id>
        |<date_range><begin>1769990400</begin><end>1770076799</end></date_range></report_metadata>
        |<policy_published><domain>example.com</domain><p>none</p></policy_published>
        |<record><row><source_ip>192.0.2.1</source_ip><count>3</count>
        |<policy_evaluated><disposition>none</disposition><dkim>pass</dkim><spf>fail</spf></policy_evaluated></row>
        |<identifiers><header_from>example.com</header_from></identifiers>
        |<auth_results><dkim><domain>example.com</domain><result>pass</result></dkim>
        |<spf><domain>example.com</domain><result>fail</result></spf></auth_results></record>
        |</feedback>""".stripMargin)
    put("forensic", "f1.eml",
      """From: dmarc-failures@reporter.example
        |Date: Mon, 02 Feb 2026 10:01:00 +0000
        |Subject: FW: invoice 1
        |MIME-Version: 1.0
        |Content-Type: multipart/report; report-type=feedback-report; boundary="arf"
        |
        |--arf
        |Content-Type: text/plain
        |
        |This is an authentication failure report.
        |
        |--arf
        |Content-Type: message/feedback-report
        |
        |Feedback-Type: auth-failure
        |Arrival-Date: Mon, 02 Feb 2026 10:00:00 +0000
        |Source-IP: 192.0.2.9
        |Reported-Domain: example.com
        |Auth-Failure: dmarc
        |Delivery-Result: reject
        |
        |--arf
        |Content-Type: text/rfc822-headers
        |
        |From: <user@example.com>
        |Subject: invoice 1
        |
        |--arf--
        |""".stripMargin.replace("\n", "\r\n"))
    put("tls", "t1.json",
      """{"organization-name": "acme",
        | "date-range": {"start-datetime": "2026-02-01T00:00:00Z", "end-datetime": "2026-02-01T23:59:59Z"},
        | "contact-info": "tls@reporter.example", "report-id": "t1",
        | "policies": [{"policy": {"policy-type": "sts", "policy-domain": "example.com"},
        |   "summary": {"total-successful-session-count": 10, "total-failure-session-count": 2},
        |   "failure-details": [{"result-type": "certificate-expired", "sending-mta-ip": "192.0.2.5",
        |     "receiving-mx-hostname": "mx1.example.com", "failed-session-count": 2}]}]}""".stripMargin)
    val corpus = dir.toString
    try {
      val runs = warmRuns { i =>
        import spark.implicits._
        val out = s"$corpus/out-$i"
        val reports = DmarcReader.aggregateReports(spark, s"$corpus/aggregate")
        val records = DmarcReader.aggregateRecords(spark, s"$corpus/aggregate")
        val forensic = DmarcReader.forensicReports(spark, s"$corpus/forensic")
        val tls = DmarcReader.tlsReports(spark, s"$corpus/tls")
        val enriched = GeoEnrichment.enrich(records.toDF(), "source_ip_address").as[AggregateRecordRow]
        OutputWriters.writeRecordsTable(enriched, s"$out/records")
        OutputWriters.writeReportsTable(reports, s"$out/reports")
        OutputWriters.writeForensicTable(forensic, s"$out/forensic")
        OutputWriters.writeTlsReportsTable(TlsAnalytics.tlsReportRows(tls), s"$out/tls_reports")
        OutputWriters.writeTlsFailuresTable(TlsAnalytics.tlsFailureRows(tls), "202602",
          s"$out/tls_failures")
        OutputWriters.writeCsv(OutputWriters.aggregateCsvLayout(enriched, reports), s"$out/csv")
      }
      // the corpus reached every table, so every writer's plan was compiled
      for (t <- Seq("records", "reports", "forensic", "tls_reports", "tls_failures"))
        assert(spark.read.parquet(s"$corpus/out-1/$t").count() == 1, t)
      assert(runs.last == 0, s"compilations per run: ${runs.mkString(", ")}")
    } finally {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally walk.close()
    }
  }
}
