package graft

import graft.api.TlsAnalytics._
import graft.sources.DmarcReader

/** SMTP TLS analytics over the parsed sample corpus: the two flattened
  * table shapes (clickhouse.go:184-228) and the panels over them.
  */
class TlsAnalyticsSpec extends SparkSpec {

  private lazy val reports =
    DmarcReader.tlsReports(spark, s"${DmarcFixtures.Root}/smtp_tls")

  test("tlsReportRows: one row per report×policy, ClickHouse column set") {
    val rows = tlsReportRows(reports)
    assert(rows.columns.toSeq == Seq(
      "organization_name", "begin_date", "end_date", "contact_info",
      "report_id", "policy_domain", "policy_type", "policy_strings",
      "mx_host_patterns", "successful_session_count", "failed_session_count"))
    val n = rows.count()
    val nPolicies = reports.toDF()
      .selectExpr("size(policies) AS n").agg(org.apache.spark.sql.functions.sum("n"))
      .collect().head.getLong(0)
    assert(n == nPolicies && n > 0)
  }

  test("tlsFailureRows: one row per failure detail, keyed to report+policy") {
    val rows = tlsFailureRows(reports)
    assert(rows.columns.toSeq == Seq(
      "report_id", "policy_domain", "result_type", "failed_session_count",
      "sending_mta_ip", "receiving_ip", "receiving_mx_hostname",
      "receiving_mx_helo", "additional_info_uri", "failure_reason_code"))
    val n = rows.count()
    val nDetails = reports.toDF()
      .selectExpr("aggregate(transform(policies, p -> size(p.failureDetails)), 0, (a, x) -> a + x) AS n")
      .agg(org.apache.spark.sql.functions.sum("n")).collect().head.getLong(0)
    assert(n == nDetails && n > 0)
    // every failure row joins back to a real report row
    val orphans = rows.join(tlsReportRows(reports).select("report_id", "policy_domain").distinct(),
      Seq("report_id", "policy_domain"), "left_anti").count()
    assert(orphans == 0)
  }

  test("oracle VALUES snapshots equal the live parse (no silent drift)") {
    // the snapshots pin the reference corpus's parse
    val root = DmarcFixtures.ReferenceSamples
    assume(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(root)), s"$root is absent")
    val reports = DmarcReader.tlsReports(spark, s"$root/smtp_tls")
    val liveP = tlsReportRows(reports)
      .select("policy_domain", "successful_session_count", "failed_session_count")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    assert(liveP == SamplePolicyRows.sortBy(t => (t._1, t._2, t._3)),
           s"TlsAnalytics.SamplePolicyRows is stale — update it to: $liveP")
    val liveF = tlsFailureRows(reports)
      .select("result_type", "failed_session_count")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(identity).toSeq
    assert(liveF == SampleFailureRows.sortBy(identity),
           s"TlsAnalytics.SampleFailureRows is stale — update it to: $liveF")
  }

  test("failureBreakdown covers every failure row; RFC 8460 result types") {
    val b = failureBreakdown(tlsFailureRows(reports)).collect()
    assert(b.map(_.getLong(1)).sum == tlsFailureRows(reports).count())
    val known = Set("starttls-not-supported", "certificate-expired",
      "certificate-not-trusted", "validation-failure", "sts-policy-fetch-error",
      "sts-policy-invalid", "sts-webpki-invalid", "tlsa-invalid", "dnssec-invalid",
      "dane-required", "certificate-host-mismatch", "sts-policy-none")
    assert(b.forall(r => known.contains(r.getString(0))), b.map(_.getString(0)).mkString(","))
  }

  test("sessionSuccessRate bounded and consistent with session totals") {
    val rows = sessionSuccessRate(tlsReportRows(reports)).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val rate = r.getDouble(3)
      rate >= 0.0 && rate <= 100.0
    })
    val perfect = rows.filter(_.getLong(2) == 0L)
    assert(perfect.forall(_.getDouble(3) == 100.0))
    val alwaysFail = rows.filter(_.getLong(1) == 0L)
    assert(alwaysFail.forall(_.getDouble(3) == 0.0))
  }
}
