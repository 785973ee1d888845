package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Output surface mirroring the reference's writers
  * (/root/reference/internal/output/output.go): JSON and CSV with the
  * same per-record field layout, plus directory mode (one partition tree
  * instead of one file per report — the Spark-native equivalent).
  * Kafka/SMTP delivery is transport, not computation; on Spark the same
  * DataFrames feed writeStream sinks.
  */
object OutputWriters {

  /** First auth result or "" — getDKIMDomain/getSPFDomain semantics
    * (output.go:497-524); try_element_at because empty is legitimate.
    */
  private def first1(c: org.apache.spark.sql.Column) =
    coalesce(try_element_at(c, lit(1)), lit(""))

  /** RFC 3339 UTC rendering of a timestamp column, as output.go writes it. */
  private def rfc3339(c: org.apache.spark.sql.Column) =
    date_format(c, "yyyy-MM-dd'T'HH:mm:ss'Z'")

  /** The aggregate CSV row layout of output.go:265-273 (first dkim/spf
    * auth result flattened, RFC 3339 dates, booleans as true/false).
    * Records meet their report on (report id, org name): report ids
    * collide across orgs.
    */
  def aggregateCsvLayout(records: Dataset[AggregateRecordRow], reports: Dataset[AggregateReport]): DataFrame = {
    val reps = reports.toDF().select(
      col("reportId").as("r_id"), col("orgName").as("r_org"), col("orgEmail"),
      rfc3339(col("beginDate")).as("r_begin"), rfc3339(col("endDate")).as("r_end"),
      col("domain"), col("adkim").as("policy_adkim"), col("aspf").as("policy_aspf"),
      col("p").as("policy_p"), col("sp").as("policy_sp"), col("pct").as("policy_pct"))
    records.toDF()
      .join(reps, col("report_id") === col("r_id") && col("org_name") === col("r_org"))
      .select(
        col("report_id"), col("org_name"), col("orgEmail").as("org_email"),
        col("r_begin").as("begin_date"), col("r_end").as("end_date"), col("domain"),
        col("policy_adkim"), col("policy_aspf"), col("policy_p"),
        col("policy_sp"), col("policy_pct"),
        col("source_ip_address").as("source_ip"), col("source_country"),
        col("source_reverse_dns"), col("count"), col("disposition"),
        first1(col("dkim_results")).as("dkim_result"),
        first1(col("spf_results")).as("spf_result"),
        col("dmarc_aligned"), col("header_from"), col("envelope_from"),
        first1(col("dkim_domains")).as("dkim_domain"),
        first1(col("dkim_selectors")).as("dkim_selector"),
        first1(col("spf_domains")).as("spf_domain"))
  }

  /** Forensic CSV layout (output.go:334-398): the table layout's
    * columns with an RFC3339 arrival date and auth_failure ";"-joined.
    */
  def forensicCsvLayout(forensic: Dataset[ForensicReport]): DataFrame =
    forensicTableLayout(forensic)
      .withColumn("arrival_date", rfc3339(col("arrival_date")))
      .withColumn("auth_failure", array_join(col("auth_failure"), ";"))

  /** SMTP TLS CSV layout (output.go:399-462): one row per policy, or one
    * per failure detail when present — exactly the reference's explode.
    */
  def tlsCsvLayout(reports: Dataset[TlsReport]): DataFrame = {
    val base = reports.toDF().select(
      col("organizationName").as("organization_name"),
      rfc3339(col("beginDate")).as("begin_date"), rfc3339(col("endDate")).as("end_date"),
      col("contactInfo").as("contact_info"),
      col("reportId").as("report_id"),
      explode(col("policies")).as("policy"))
    base.select(
      col("organization_name"), col("begin_date"), col("end_date"),
      col("contact_info"), col("report_id"),
      col("policy.policyDomain").as("policy_domain"),
      col("policy.policyType").as("policy_type"),
      col("policy.successfulSessionCount").as("successful_session_count"),
      col("policy.failedSessionCount").as("failed_session_count"),
      // empty failure list → one row of empty strings (reference base row)
      explode(when(size(col("policy.failureDetails")) === 0,
          array(struct(lit("").as("resultType"),
                       lit("").as("sendingMtaIp"),
                       lit("").as("receivingIp"))))
        .otherwise(expr(
          "transform(policy.failureDetails, f -> struct(f.resultType AS resultType, coalesce(f.sendingMtaIp, '') AS sendingMtaIp, coalesce(f.receivingIp, '') AS receivingIp))")))
        .as("f"))
      .select(col("organization_name"), col("begin_date"), col("end_date"),
        col("contact_info"), col("report_id"), col("policy_domain"),
        col("policy_type"), col("successful_session_count"),
        col("failed_session_count"),
        col("f.resultType").as("failure_result_type"),
        col("f.sendingMtaIp").as("failure_sending_mta_ip"),
        col("f.receivingIp").as("failure_receiving_ip"))
  }

  /** File mode: single CSV with header (coalesced like the reference's
    * one-file output; on a cluster drop the coalesce).
    */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = true): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").option("header", "true").csv(path)
  }

  /** JSON lines (the reference writes a JSON document per report; JSONL
    * is the distributed-friendly equivalent).
    */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Directory mode: reference writes one timestamped file per report
    * (output.go:867-905); the scalable analogue partitions by report
    * month + org so each report lands in its own directory subtree.
    */
  def writeDirectoryMode(records: Dataset[AggregateRecordRow], path: String): Unit =
    records.toDF()
      .withColumn("report_month", date_format(col("begin_date"), "yyyyMM"))
      .write.mode("overwrite")
      .partitionBy("report_month", "org_name")
      .parquet(path)

  /** The analytics TABLE layout — MergeTree parity with
    * `dmarc_aggregate_records` (clickhouse.go:107-138: PARTITION BY
    * toYYYYMM(begin_date), ORDER BY (org, report, ip, date)):
    * month-partitioned parquet, ONE shuffle keyed on the partition
    * column so each month is written by a single task's sorted run, rows
    * sorted within files on (org_name, report_id, source_ip_address,
    * begin_date) so parquet row-group min/max statistics serve the same
    * data-skipping role as MergeTree's primary index — a dashboard
    * filter on org or source IP skips whole row groups, and every
    * time-windowed panel prunes whole month directories.
    */
  def writeRecordsTable(records: Dataset[AggregateRecordRow], path: String): Unit =
    writeTable(records.toDF(), date_format(col("begin_date"), "yyyyMM"),
      Seq("org_name", "report_id", "source_ip_address", "begin_date"), path)

  /** Shared MergeTree-parity writer: month partition directories, one
    * shuffle keyed on the partition column, rows sorted inside files on
    * the table's ORDER BY key so parquet row-group min/max statistics
    * skip like the primary index.
    */
  private def writeTable(df: DataFrame, monthCol: org.apache.spark.sql.Column,
                         sortCols: Seq[String], path: String): Unit =
    df.withColumn("report_month", monthCol)
      .repartition(col("report_month"))
      .sortWithinPartitions(("report_month" +: sortCols).map(col): _*)
      .write.mode("overwrite")
      .partitionBy("report_month")
      .parquet(path)

  /** `dmarc_aggregate_reports` layout (clickhouse.go:79-100: ORDER BY
    * (org_name, report_id, begin_date), PARTITION BY month).
    */
  def writeReportsTable(reports: Dataset[AggregateReport], path: String): Unit =
    writeTable(reportsTableLayout(reports),
      date_format(col("begin_date"), "yyyyMM"),
      Seq("org_name", "report_id", "begin_date"), path)

  /** The `dmarc_aggregate_reports` column projection, exposed for the
    * parquet writer above AND the ClickHouse HTTP output path.
    */
  def reportsTableLayout(reports: Dataset[AggregateReport]): DataFrame =
    reports.toDF().select(
      col("xmlSchema").as("xml_schema"), col("orgName").as("org_name"),
      col("orgEmail").as("org_email"),
      col("orgExtraContactInfo").as("org_extra_contact_info"),
      col("reportId").as("report_id"), col("beginDate").as("begin_date"),
      col("endDate").as("end_date"), col("errors"), col("domain"),
      col("adkim"), col("aspf"), col("p"), col("sp"), col("pct"), col("fo"))

  /** `dmarc_forensic_reports` layout (clickhouse.go:175-176: ORDER BY
    * (arrival_date, source_ip_address), PARTITION BY month). The month
    * partition derives from the TYPED arrival timestamp — not from the
    * CSV layout's formatted string, whose hardcoded 'Z' suffix would
    * re-parse as UTC and shift boundary rows into the wrong month on a
    * non-UTC session.
    */
  def writeForensicTable(forensic: Dataset[ForensicReport], path: String): Unit =
    writeTable(forensicTableLayout(forensic),
      date_format(col("arrival_date"), "yyyyMM"),
      Seq("arrival_date", "source_ip"), path)

  /** The `dmarc_forensic_reports` column projection, exposed for the
    * parquet writer above AND the ClickHouse HTTP output path; optional
    * fields as empty strings.
    */
  def forensicTableLayout(forensic: Dataset[ForensicReport]): DataFrame =
    forensic.toDF().select(
      col("feedbackType").as("feedback_type"),
      coalesce(col("userAgent"), lit("")).as("user_agent"),
      coalesce(col("version"), lit("")).as("version"),
      coalesce(col("originalEnvelopeId"), lit("")).as("original_envelope_id"),
      coalesce(col("originalMailFrom"), lit("")).as("original_mail_from"),
      coalesce(col("originalRcptTo"), lit("")).as("original_rcpt_to"),
      col("arrivalDate").as("arrival_date"),
      col("subject"), col("messageId").as("message_id"),
      col("authenticationResults").as("authentication_results"),
      coalesce(col("dkimDomain"), lit("")).as("dkim_domain"),
      col("source.ipAddress").as("source_ip"),
      col("source.country").as("source_country"),
      col("deliveryResult").as("delivery_result"),
      col("authFailure").as("auth_failure"),
      col("reportedDomain").as("reported_domain"))

  /** `dmarc_smtp_tls_reports` layout (clickhouse.go:202-203: ORDER BY
    * (begin_date, organization_name), PARTITION BY month). Takes the
    * flattened frame from TlsAnalytics.tlsReportRows.
    */
  def writeTlsReportsTable(tlsReportRows: DataFrame, path: String): Unit =
    writeTable(tlsReportRows, date_format(col("begin_date"), "yyyyMM"),
      Seq("begin_date", "organization_name"), path)

  /** `dmarc_smtp_tls_failures` layout (clickhouse.go:227-228: ORDER BY
    * (report_id, result_type), PARTITION BY month(created_at) — the
    * reference partitions this table by INGEST time, so the caller
    * provides the ingest month).
    */
  def writeTlsFailuresTable(tlsFailureRows: DataFrame, ingestMonth: String,
                            path: String): Unit =
    writeTable(tlsFailureRows, lit(ingestMonth),
      Seq("report_id", "result_type"), path)
}
