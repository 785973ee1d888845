package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import graft.sources.JsonText
import org.apache.spark.sql.functions._

/** The reference's dashboard analytics as a library API over the real
  * DMARC record tables (graft.sources.DmarcReader output) — what a
  * parsedmarc-go + Grafana user calls after switching to this engine.
  * Each method mirrors one panel of
  * grafana/clickhouse/dashboard-dmarc-overview.json /
  * dashboard-dmarc-forensic.json, re-expressed as a declarative
  * DataFrame transform (Catalyst prunes/pushes/broadcasts).
  *
  * All methods take the flattened `dmarc_aggregate_records` /
  * `dmarc_forensic_reports` shape; on a cluster those are parquet tables
  * partitioned by `report_month`. The `since` filters compare the row
  * column (`begin_date`, `arrivalDate`), so they prune no partition:
  * every month file is opened, and row-group statistics skip the rows
  * outside the window.
  */
object DmarcAnalytics {

  private def aligned: Column = col("dmarc_aligned").cast("int")

  /** overview p0: daily message volume. */
  def dailyVolume(records: DataFrame): DataFrame =
    records.groupBy(col("begin_date").cast("date").as("date"))
      .agg(sum(col("count")).as("total_messages"))
      .orderBy("date")

  /** overview p1: total messages in window. */
  def totalMessages(records: DataFrame, since: String): DataFrame =
    records.filter(col("begin_date") >= lit(since))
      .agg(sum(col("count")).as("total"))

  /** overview p2: DMARC compliance rate (%). */
  def complianceRate(records: DataFrame): DataFrame =
    records.agg(round(sum(aligned * col("count")) * 100.0 / sum(col("count")), 2)
      .as("compliance_rate"))

  /** overview p3: pass/fail breakdown. */
  def passFailBreakdown(records: DataFrame): DataFrame =
    records.groupBy(when(col("dmarc_aligned"), "Pass").otherwise("Fail").as("status"))
      .agg(sum(col("count")).as("messages"))
      .orderBy(desc("messages"))

  /** overview p4: disposition breakdown. */
  def dispositionBreakdown(records: DataFrame): DataFrame =
    records.groupBy("disposition")
      .agg(sum(col("count")).as("messages"))
      .orderBy(desc("messages"), asc("disposition"))

  /** overview p5: top source countries (Unknown excluded). */
  def topCountries(records: DataFrame, n: Int = 10): DataFrame =
    records.filter(col("source_country") =!= "Unknown")
      .groupBy("source_country")
      .agg(sum(col("count")).as("messages"))
      .orderBy(desc("messages"), asc("source_country"))
      .limit(n)

  /** overview p6: per-reporting-org volume + compliance. */
  def orgCompliance(records: DataFrame, n: Int = 20): DataFrame =
    records.groupBy("org_name")
      .agg(sum(col("count")).as("messages"),
           round(sum(aligned * col("count")) * 100.0 / sum(col("count")), 2)
             .as("compliance_rate"))
      .orderBy(desc("messages"), asc("org_name"))
      .limit(n)

  /** overview p7: top sources with volume floor. */
  def topSources(records: DataFrame, minMessages: Long = 100, n: Int = 50): DataFrame =
    records.groupBy("source_ip_address", "source_reverse_dns", "source_country")
      .agg(sum(col("count")).as("messages"),
           round(sum(aligned * col("count")) * 100.0 / sum(col("count")), 2)
             .as("dmarc_pass_rate"))
      .filter(col("messages") > minMessages)
      .orderBy(desc("messages"), asc("source_ip_address"))
      .limit(n)

  /** forensic p4: reports per day. */
  def forensicPerDay(forensic: DataFrame): DataFrame =
    forensic.groupBy(col("arrivalDate").cast("date").as("date"))
      .agg(count(lit(1)).as("reports"))
      .orderBy("date")

  /** forensic p5: feedback-type breakdown. */
  def feedbackTypeBreakdown(forensic: DataFrame): DataFrame =
    forensic.groupBy("feedbackType")
      .agg(count(lit(1)).as("reports"))
      .orderBy(desc("reports"), asc("feedbackType"))

  /** forensic p6: delivery-result breakdown. */
  def deliveryResultBreakdown(forensic: DataFrame): DataFrame =
    forensic.groupBy("deliveryResult")
      .agg(count(lit(1)).as("reports"))
      .orderBy(desc("reports"), asc("deliveryResult"))

  /** forensic p8: most-reported domains with distinct source breadth. */
  def topReportedDomains(forensic: DataFrame, n: Int = 20): DataFrame =
    forensic.groupBy(col("reportedDomain"))
      .agg(count(lit(1)).as("report_count"),
           countDistinct(col("source.ipAddress")).as("unique_ips"),
           array_sort(collect_set(col("authFailure"))).as("auth_failures"))
      .orderBy(desc("report_count"), asc("reportedDomain"))
      .limit(n)

  /** forensic p7: top source countries over enriched forensic reports
    * (GeoEnrichment.enrichForensic output — on the raw offline parse
    * every row is "Unknown" and this panel is empty, the round-2 gap).
    * `since` applies the dashboard's arrival-date window as a row
    * filter; on the month-partitioned parquet table it prunes no
    * partition.
    */
  def forensicTopCountries(forensic: DataFrame, since: Option[String] = None,
                           n: Int = 10): DataFrame =
    since.foldLeft(forensic)((f, s) => f.filter(col("arrivalDate") >= lit(s)))
      .filter(col("source.country") =!= "Unknown")
      .groupBy(col("source.country").as("source_country"))
      .agg(count(lit(1)).as("reports"))
      .orderBy(desc("reports"), asc("source_country"))
      .limit(n)

  /** forensic p9: top source IPs with last-seen. */
  def topForensicSources(forensic: DataFrame, n: Int = 50): DataFrame =
    forensic.groupBy(col("source.ipAddress").as("source_ip"),
                     col("source.reverseDns").as("reverse_dns"),
                     col("source.country").as("country"))
      .agg(count(lit(1)).as("report_count"),
           countDistinct(col("reportedDomain")).as("unique_domains"),
           max(col("arrivalDate")).as("last_seen"))
      .orderBy(desc("report_count"), asc("source_ip"))
      .limit(n)

  // ---- batch summary document (the serving surface) -------------------

  /** JSON string escape; a null (e.g. a null disposition group key)
    * renders as "unknown" instead of NPE-ing the whole summary job.
    */
  private def jstr(s: String): String =
    JsonText.str(if (s == null) "unknown" else s)

  /** The reference HTTP server's document surface as a batch artifact
    * (internal/http/server.go: handleRoot's service/version/endpoints,
    * handleHealth's status/timestamp, the Prometheus
    * parsedmarc_parser_reports_total counter family from
    * internal/metrics/metrics.go), extended with the dashboard summary
    * panels — what "GET a summary" means when the serving tier is a
    * scheduled Spark job writing JSON instead of a Gin server.
    *
    * Every embedded aggregate is a tiny panel result (≤ 50 rows by
    * construction); the collects here assemble a single driver-side
    * document, they never pull row-level data.
    */
  def summaryJson(recordsIn: DataFrame, forensic: DataFrame,
                  tlsReports: Option[DataFrame] = None): String = {
    // the document assembles EIGHT separate panel actions over the same
    // records frame; persist for the duration of the build so the input
    // scans once instead of once per panel
    val records = recordsIn.persist()
    try summaryJsonFrom(records, forensic, tlsReports)
    finally records.unpersist(false)
  }

  private def summaryJsonFrom(records: DataFrame, forensic: DataFrame,
                              tlsReports: Option[DataFrame]): String = {
    val messagesTotal = records.agg(sum(col("count"))).collect().head match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    val reportsTotal = records.select("report_id").distinct().count()
    val forensicTotal = forensic.count()
    // the reference's counter family carries all THREE type labels
    // (parser.go: "aggregate"/"forensic"/"smtp_tls")
    val tlsTotal = tlsReports.map(_.count()).getOrElse(0L)
    val rate = complianceRate(records).collect().headOption
      .filterNot(_.isNullAt(0)).map(_.getDouble(0)).getOrElse(0.0)
    val pf = passFailBreakdown(records).collect()
      .map(r => s"${jstr(r.getString(0))}: ${r.getLong(1)}")
      .mkString("{", ", ", "}")
    val disp = dispositionBreakdown(records).collect()
      .map(r => s"""{"disposition": ${jstr(r.getString(0))}, "messages": ${r.getLong(1)}}""")
      .mkString("[", ", ", "]")
    val countries = topCountries(records).collect()
      .map(r => s"""{"country": ${jstr(r.getString(0))}, "messages": ${r.getLong(1)}}""")
      .mkString("[", ", ", "]")
    val orgs = orgCompliance(records).collect()
      .map(r => s"""{"org_name": ${jstr(r.getString(0))}, "messages": ${r.getLong(1)}, "compliance_rate": ${r.getDouble(2)}}""")
      .mkString("[", ", ", "]")
    val ts = java.time.format.DateTimeFormatter.ISO_INSTANT
      .format(java.time.Instant.now().truncatedTo(java.time.temporal.ChronoUnit.SECONDS))
    s"""{
       |  "service": "parsedmarc-go",
       |  "version": "1.0.0",
       |  "status": "healthy",
       |  "timestamp": ${jstr(ts)},
       |  "endpoints": {"health": "/health", "dmarc_report": "/dmarc/report", "metrics": "/metrics"},
       |  "metrics": {
       |    "parsedmarc_parser_reports_total": {"aggregate": $reportsTotal, "forensic": $forensicTotal, "smtp_tls": $tlsTotal},
       |    "records_total": ${records.count()},
       |    "messages_total": $messagesTotal
       |  },
       |  "summary": {
       |    "compliance_rate": $rate,
       |    "pass_fail": $pf,
       |    "dispositions": $disp,
       |    "top_countries": $countries,
       |    "top_orgs": $orgs
       |  }
       |}""".stripMargin
  }

  /** Write the summary document (single JSON file, driver-side — it is
    * one document, not a dataset).
    */
  def writeSummary(records: DataFrame, forensic: DataFrame, path: String): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path),
      (summaryJson(records, forensic) + "\n").getBytes("UTF-8"))
}
