package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed DMARC report ingestion: `binaryFile` scan → executor-side
  * parse → typed Dataset. This is the reference's single-threaded
  * file/IMAP/HTTP intake re-expressed as embarrassingly-parallel Spark
  * ETL: each file parses independently on executors, so 100 TB of report
  * archives ingest at cluster width. Failed files surface in a parallel
  * errors Dataset instead of aborting the job (the reference logs and
  * skips — parser.go:116-193).
  */
object DmarcReader {

  private[sources] def files(spark: SparkSession, path: String, glob: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(path)
      .select(col("path"), col("content"))

  def aggregateReports(spark: SparkSession, path: String, glob: String = "*"): Dataset[AggregateReport] = {
    import spark.implicits._
    files(spark, path, glob).as[(String, Array[Byte])]
      .flatMap { case (_, bytes) => AggregateXmlParser.parseAny(bytes).toOption }
  }

  /** Flattened `dmarc_aggregate_records` rows — the table every overview
    * dashboard panel aggregates (clickhouse.go:107-138). On a cluster
    * this would persist as parquet partitioned by month(begin_date),
    * sorted within partitions by (org_name, source_ip_address).
    */
  def aggregateRecords(spark: SparkSession, path: String, glob: String = "*"): Dataset[AggregateRecordRow] = {
    import spark.implicits._
    aggregateReports(spark, path, glob).flatMap(recordRows)
  }

  /** Report → flattened per-record rows; shared by the batch reader above
    * and the streaming drop-directory intake (ReportFileIntake).
    */
  def recordRows(rep: AggregateReport): Seq[AggregateRecordRow] =
    rep.records.map { r =>
      AggregateRecordRow(
          report_id = rep.reportId,
          org_name = rep.orgName,
          source_ip_address = r.source.ipAddress,
          source_country = r.source.country,
          source_reverse_dns = r.source.reverseDns,
          source_base_domain = r.source.baseDomain,
          source_name = r.source.name,
          source_type = r.source.sourceType,
          count = r.count,
          spf_aligned = r.spfAligned,
          dkim_aligned = r.dkimAligned,
          dmarc_aligned = r.dmarcAligned,
          disposition = r.disposition,
          policy_override_reasons = r.overrides.map(_.reasonType.getOrElse("none")),
          policy_override_comments = r.overrides.map(_.comment.getOrElse("none")),
          envelope_from = r.envelopeFrom,
          header_from = r.headerFrom,
          envelope_to = r.envelopeTo,
          dkim_domains = r.dkim.map(_.domain),
          dkim_selectors = r.dkim.map(_.selector),
          dkim_results = r.dkim.map(_.result),
          spf_domains = r.spf.map(_.domain),
          spf_scopes = r.spf.map(_.scope),
          spf_results = r.spf.map(_.result),
          begin_date = rep.beginDate,
        )
    }

  /** Flattened records with the deterministic geo/rDNS enrichment
    * applied (parser.go:1272-1301's online path, re-expressed as a
    * broadcast fixture join — graft.functions.GeoEnrichment). This is
    * the frame the overview dashboard's geo panels expect; with the
    * raw offline records those panels are always empty.
    */
  def enrichedRecords(spark: SparkSession, path: String, glob: String = "*"): DataFrame =
    graft.functions.GeoEnrichment.enrich(
      aggregateRecords(spark, path, glob).toDF(), "source_ip_address")

  def forensicReports(spark: SparkSession, path: String, glob: String = "*"): Dataset[ForensicReport] = {
    import spark.implicits._
    files(spark, path, glob).as[(String, Array[Byte])]
      .flatMap { case (_, bytes) => ForensicParser.parse(bytes).toOption }
  }

  /** Forensic reports with the deterministic geo/rDNS enrichment applied
    * to `source` (the forensic twin of `enrichedRecords` — without it
    * the forensic dashboard's Top Source Countries panel only ever sees
    * the offline parser's "Unknown").
    */
  def enrichedForensic(spark: SparkSession, path: String, glob: String = "*"): DataFrame =
    graft.functions.GeoEnrichment.enrichForensic(
      forensicReports(spark, path, glob).toDF())

  def tlsReports(spark: SparkSession, path: String, glob: String = "*"): Dataset[TlsReport] = {
    import spark.implicits._
    files(spark, path, glob).as[(String, Array[Byte])]
      .flatMap { case (_, bytes) => TlsReportParser.parseAny(bytes).toOption }
  }

  /** (path, error) for files that fail to parse as aggregate reports. */
  def aggregateErrors(spark: SparkSession, path: String, glob: String = "*"): Dataset[(String, String)] = {
    import spark.implicits._
    files(spark, path, glob).as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        AggregateXmlParser.parseAny(bytes).left.toOption.map(p -> _)
      }
  }
}
