package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Observability surface mirroring the reference's Prometheus counters
  * (/root/reference/internal/metrics/metrics.go): parse totals, failure
  * totals, record volumes — computed from the ingest files themselves
  * so the numbers are exact, not sampled. On a cluster these feed a
  * metrics sink after each ingest batch.
  */
object IngestMetrics {

  /** One row per metric: (metric, value), all from one parse per file
    * and one aggregate action. */
  def aggregateSummary(spark: SparkSession, path: String, glob: String = "*"): DataFrame = {
    import spark.implicits._
    val cols = Seq("parsed", "failed", "records", "messages")
    val totals = DmarcReader.Aggregate.outcomes[String, (Long, Long, Long, Long)](
        DmarcReader.files(spark, path, glob), "path")((_, parsed) => Some(parsed.fold(
        _ => (0L, 1L, 0L, 0L),
        rep => (1L, 0L, rep.records.size.toLong, rep.records.map(_.count.toLong).sum))))
      .toDF(cols: _*).select(cols.map(c => coalesce(sum(c), lit(0L))): _*).head()
    val Seq(nReports, nErrors, nRecords, nMessages) = cols.indices.map(totals.getLong)
    Seq(
      ("dmarc_reports_parsed_total", nReports.toDouble),
      ("dmarc_parse_errors_total", nErrors.toDouble),
      ("dmarc_records_total", nRecords.toDouble),
      ("dmarc_messages_total", nMessages.toDouble),
      ("dmarc_records_per_report_avg",
        if (nReports == 0) 0.0 else nRecords.toDouble / nReports),
    ).toDF("metric", "value")
  }
}
