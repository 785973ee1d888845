package graft

import graft.sources.{AggregateRecordRow, AggregateReport, DmarcReader, ForensicReport, OutputWriters, SourceInfo}
import java.nio.file.Files

class OutputWritersSpec extends SparkSpec {

  private val samples = s"${DmarcFixtures.Root}/aggregate"

  test("aggregate CSV layout matches output.go:265-273 header set") {
    val reports = DmarcReader.aggregateReports(spark, samples, "*.xml")
    val records = DmarcReader.aggregateRecords(spark, samples, "*.xml")
    val df = OutputWriters.aggregateCsvLayout(records, reports)
    val expected = Seq(
      "report_id", "org_name", "org_email", "begin_date", "end_date",
      "domain", "policy_adkim", "policy_aspf", "policy_p", "policy_sp", "policy_pct",
      "source_ip", "source_country", "source_reverse_dns", "count",
      "disposition", "dkim_result", "spf_result", "dmarc_aligned",
      "header_from", "envelope_from", "dkim_domain", "dkim_selector", "spf_domain")
    assert(df.columns.toSeq == expected)
    assert(df.count() > 0)
  }

  test("aggregate CSV layout: a report id shared by two orgs keeps each record with its own report") {
    import spark.implicits._
    val day = java.sql.Timestamp.from(java.time.Instant.parse("2018-09-02T00:00:00Z"))
    def report(org: String, domain: String, p: String) = AggregateReport(
      xmlSchema = "1.0", orgName = org, orgEmail = s"dmarc@$org", orgExtraContactInfo = None,
      reportId = "shared-1", beginDate = day, endDate = day, errors = Nil, domain = domain,
      adkim = "r", aspf = "r", p = p, sp = p, pct = "100", fo = "0", records = Nil)
    def record(org: String, ip: String) = AggregateRecordRow(
      report_id = "shared-1", org_name = org, source_ip_address = ip, source_country = "",
      source_reverse_dns = "", source_base_domain = "", source_name = "", source_type = "",
      count = 1, spf_aligned = true, dkim_aligned = true, dmarc_aligned = true,
      disposition = "none", policy_override_reasons = Nil, policy_override_comments = Nil,
      envelope_from = None, header_from = "x.example", envelope_to = None,
      dkim_domains = Nil, dkim_selectors = Nil, dkim_results = Nil,
      spf_domains = Nil, spf_scopes = Nil, spf_results = Nil, begin_date = day)
    val reports = Seq(report("a.example", "a.example", "none"),
      report("b.example", "b.example", "reject")).toDS()
    val records = Seq(record("a.example", "192.0.2.1"), record("b.example", "192.0.2.2")).toDS()
    val rows = OutputWriters.aggregateCsvLayout(records, reports)
      .select("org_name", "org_email", "domain", "policy_p", "source_ip")
      .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
    assert(rows == Seq(
      Seq("a.example", "dmarc@a.example", "a.example", "none", "192.0.2.1"),
      Seq("b.example", "dmarc@b.example", "b.example", "reject", "192.0.2.2")), rows)
  }

  test("forensic CSV layout matches output.go:334-398 header set") {
    val forensic = DmarcReader.forensicReports(spark, s"${DmarcFixtures.Root}/forensic", "*.eml")
    val df = OutputWriters.forensicCsvLayout(forensic)
    assert(df.columns.toSeq == Seq(
      "feedback_type", "user_agent", "version", "original_envelope_id",
      "original_mail_from", "original_rcpt_to", "arrival_date", "subject",
      "message_id", "authentication_results", "dkim_domain", "source_ip",
      "source_country", "delivery_result", "auth_failure", "reported_domain"))
    assert(df.count() == 4)
  }

  test("forensic table and CSV layouts: same 16 columns; CSV formats the date and joins auth_failure") {
    import spark.implicits._
    val report = ForensicReport(
      feedbackType = "auth-failure", userAgent = None, version = Some("1"),
      originalEnvelopeId = None, originalMailFrom = Some("bounce@sender.example"),
      originalRcptTo = None,
      arrivalDate = java.sql.Timestamp.from(java.time.Instant.parse("2018-09-02T07:08:09Z")),
      subject = "Invoice", messageId = "<m1@sender.example>",
      authenticationResults = "dmarc=fail header.from=sender.example",
      dkimDomain = None,
      source = SourceInfo("192.0.2.1", "US", "mail.sender.example", "sender.example", "", ""),
      deliveryResult = "reject", authFailure = Seq("dmarc", "spf"),
      reportedDomain = "sender.example", authenticationMechanisms = Seq("dkim"),
      sampleHeadersOnly = true, sample = "")
    val forensic = Seq(report).toDS()
    val columns = Seq(
      "feedback_type", "user_agent", "version", "original_envelope_id",
      "original_mail_from", "original_rcpt_to", "arrival_date", "subject",
      "message_id", "authentication_results", "dkim_domain", "source_ip",
      "source_country", "delivery_result", "auth_failure", "reported_domain")
    val table = OutputWriters.forensicTableLayout(forensic)
    val csv = OutputWriters.forensicCsvLayout(forensic)
    assert(table.columns.toSeq == columns && csv.columns.toSeq == columns)
    val shared = Seq("auth-failure", "", "1", "", "bounce@sender.example", "")
    val tail = Seq("Invoice", "<m1@sender.example>", "dmarc=fail header.from=sender.example",
      "", "192.0.2.1", "US", "reject")
    assert(csv.collect().head.toSeq == (shared :+ "2018-09-02T07:08:09Z") ++ tail ++
      Seq("dmarc;spf", "sender.example"))
    assert(table.collect().head.toSeq == (shared :+ report.arrivalDate) ++ tail ++
      Seq(Seq("dmarc", "spf"), "sender.example"))
  }

  test("tls CSV layout: one row per policy or per failure detail") {
    val tls = DmarcReader.tlsReports(spark, s"${DmarcFixtures.Root}/smtp_tls")
    val df = OutputWriters.tlsCsvLayout(tls)
    assert(df.columns.toSeq == Seq(
      "organization_name", "begin_date", "end_date", "contact_info", "report_id",
      "policy_domain", "policy_type", "successful_session_count", "failed_session_count",
      "failure_result_type", "failure_sending_mta_ip", "failure_receiving_ip"))
    import org.apache.spark.sql.functions._
    // policies without failures appear exactly once with empty failure cols
    val noFail = df.filter(col("failure_result_type") === "")
    val withFail = df.filter(col("failure_result_type") =!= "")
    assert(noFail.count() > 0 && withFail.count() > 0)
    // rfc8460 sample: 3 failure details -> 3 rows for that report
    assert(df.filter(col("report_id") === "5065427c-23d3-47ca-b6e0-946ea0e8c4be").count() == 3)
  }

  test("csv/json/directory writers round-trip") {
    val dir = Files.createTempDirectory("graft-out").toString
    val reports = DmarcReader.aggregateReports(spark, samples, "*.xml")
    val records = DmarcReader.aggregateRecords(spark, samples, "*.xml")
    val flat = OutputWriters.aggregateCsvLayout(records, reports)

    OutputWriters.writeCsv(flat, s"$dir/csv")
    val csvBack = spark.read.option("header", "true").csv(s"$dir/csv")
    assert(csvBack.count() == flat.count())

    OutputWriters.writeJson(flat, s"$dir/json")
    assert(spark.read.json(s"$dir/json").count() == flat.count())

    OutputWriters.writeDirectoryMode(records, s"$dir/dirmode")
    val back = spark.read.parquet(s"$dir/dirmode")
    assert(back.count() == records.count())
    // partition pruning works on the directory layout
    val pruned = back.filter(org.apache.spark.sql.functions.col("report_month") === "201809")
    assert(pruned.count() > 0 && pruned.count() < back.count())
  }
}
