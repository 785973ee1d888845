package graft.api

import graft.sources.TlsReport
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** SMTP TLS (RFC 8460) analytics over parsed TLS reports: the reference
  * materializes two first-class queryable tables —
  * `dmarc_smtp_tls_reports` (one row per report×policy) and
  * `dmarc_smtp_tls_failures` (one row per failure detail), ClickHouse
  * ORDER BY (report_id, result_type)
  * (/root/reference/internal/storage/clickhouse/clickhouse.go:184-228).
  * Here they are flattened DataFrames; on a cluster both persist as
  * month-partitioned parquet — the reports table by month(begin_date),
  * the failures table by the ingest month, as in the reference
  * (OutputWriters.writeTlsFailuresTable) — and every panel below is a
  * partial-aggregated groupBy over low-cardinality keys (map-side
  * combine, no extra shuffle beyond the agg exchange).
  */
object TlsAnalytics {

  /** `dmarc_smtp_tls_reports` shape (clickhouse.go:184-204): one row per
    * (report, policy).
    */
  def tlsReportRows(reports: Dataset[TlsReport]): DataFrame =
    reports.toDF()
      .select(col("organizationName").as("organization_name"),
              col("beginDate").as("begin_date"),
              col("endDate").as("end_date"),
              col("contactInfo").as("contact_info"),
              col("reportId").as("report_id"),
              explode(col("policies")).as("p"))
      .select(col("organization_name"), col("begin_date"), col("end_date"),
              col("contact_info"), col("report_id"),
              col("p.policyDomain").as("policy_domain"),
              col("p.policyType").as("policy_type"),
              col("p.policyStrings").as("policy_strings"),
              col("p.mxHostPatterns").as("mx_host_patterns"),
              col("p.successfulSessionCount").as("successful_session_count"),
              col("p.failedSessionCount").as("failed_session_count"))

  /** `dmarc_smtp_tls_failures` shape (clickhouse.go:210-228): one row
    * per failure detail, joined back to its report and policy domain.
    */
  def tlsFailureRows(reports: Dataset[TlsReport]): DataFrame =
    reports.toDF()
      .select(col("reportId").as("report_id"), explode(col("policies")).as("p"))
      .select(col("report_id"), col("p.policyDomain").as("policy_domain"),
              explode(col("p.failureDetails")).as("f"))
      .select(col("report_id"), col("policy_domain"),
              col("f.resultType").as("result_type"),
              col("f.failedSessionCount").as("failed_session_count"),
              col("f.sendingMtaIp").as("sending_mta_ip"),
              col("f.receivingIp").as("receiving_ip"),
              col("f.receivingMxHostname").as("receiving_mx_hostname"),
              col("f.receivingMxHelo").as("receiving_mx_helo"),
              col("f.additionalInfoUri").as("additional_info_uri"),
              col("f.failureReasonCode").as("failure_reason_code"))

  /** Committed snapshot of the sample corpus' flattened TLS rows — the
    * columns the oracled queries aggregate. The DuckDB oracles embed
    * these as VALUES (no filesystem dependency at oracle time), and
    * TlsAnalyticsSpec asserts the constants equal the LIVE parse of the
    * samples, so parser drift breaks the build instead of silently
    * desyncing the oracle.
    */
  val SamplePolicyRows: Seq[(String, Long, Long)] = Seq(
    ("cardinalhealth.ca", 48L, 0L), ("company-y.example", 5326L, 303L),
    ("example.com", 0L, 1L), ("example.com", 0L, 3L))

  val SampleFailureRows: Seq[(String, Long)] = Seq(
    ("certificate-expired", 100L), ("starttls-not-supported", 200L),
    ("sts-policy-fetch-error", 1L), ("sts-policy-fetch-error", 1L),
    ("validation-failure", 1L), ("validation-failure", 2L),
    ("validation-failure", 3L))

  /** VALUES bodies for the DuckDB twins. */
  def policySqlValues: String =
    SamplePolicyRows.map { case (d, ok, f) => s"('$d', $ok, $f)" }.mkString(", ")
  def failureSqlValues: String =
    SampleFailureRows.map { case (t, f) => s"('$t', $f)" }.mkString(", ")

  /** Failure breakdown by RFC 8460 result type (the TLS failures
    * panel): how many failure details and failed sessions each
    * result-type accounts for.
    */
  def failureBreakdown(failureRows: DataFrame): DataFrame =
    failureRows.groupBy("result_type")
      .agg(count(lit(1)).as("n_failures"),
           sum(col("failed_session_count")).as("failed_sessions"))
      .orderBy(desc("failed_sessions"), asc("result_type"))

  /** Per-policy-domain session success rate over the report rows. */
  def sessionSuccessRate(reportRows: DataFrame): DataFrame =
    reportRows.groupBy("policy_domain")
      .agg(sum(col("successful_session_count")).as("ok_sessions"),
           sum(col("failed_session_count")).as("failed_sessions"))
      .withColumn("success_rate",
        round(col("ok_sessions") * 100.0 /
          (col("ok_sessions") + col("failed_sessions")), 2))
      .orderBy("policy_domain")
}
