package graft.sources

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed DMARC report ingestion: `binaryFile` scan → executor-side
  * parse → typed Dataset. This is the reference's single-threaded
  * file/IMAP/HTTP intake re-expressed as embarrassingly-parallel Spark
  * ETL: each file parses independently on executors, so 100 TB of report
  * archives ingest at cluster width. A file that fails to parse is
  * skipped instead of aborting the job (the reference logs and skips —
  * parser.go:116-193). Only the aggregate family lists those files, as
  * (path, error) rows (`aggregateErrors`).
  */
object DmarcReader {

  /** One report family's parse step, the only place its parser runs on
    * Spark rows. Every intake — a batch scan, the drop-directory stream,
    * IMAP message bytes — hands it a frame with a binary `content`
    * column, so all of them parse and skip alike.
    */
  final class Family[T <: Product : TypeTag] private[DmarcReader] (parse: Array[Byte] => Either[String, T]) {

    /** The parsed reports; a row that fails to parse is skipped. */
    def reports(files: DataFrame): Dataset[T] = {
      // the closures take a local copy of `parse`, not the Family, which
      // is not serializable
      val (s, p) = (files.sparkSession, parse)
      import s.implicits._
      files.select(col("content")).as[Array[Byte]].flatMap(p(_).toOption)
    }

    /** (path, error) for each row of a `path`/`content` frame that fails to parse. */
    def errors(files: DataFrame): Dataset[(String, String)] =
      outcomes[String, (String, String)](files, "path")((path, r) => r.left.toOption.map(path -> _))

    /** (key, report) for each row that parses, `key` carried through from its column. */
    def keyedReports[K: TypeTag](files: DataFrame, key: String): Dataset[(K, T)] =
      outcomes[K, (K, T)](files, key)((k, r) => r.toOption.map(k -> _))

    /** Each row's parse outcome with its `key` column, mapped by `emit`. */
    private[sources] def outcomes[K: TypeTag, R <: Product : TypeTag](files: DataFrame, key: String)(
        emit: (K, Either[String, T]) => Option[R]): Dataset[R] = {
      val (s, p) = (files.sparkSession, parse)
      import s.implicits._
      files.select(col(key), col("content")).as[(K, Array[Byte])]
        .flatMap { case (k, bytes) => emit(k, p(bytes)) }
    }
  }

  val Aggregate = new Family(AggregateXmlParser.parseAny)
  val Forensic = new Family(ForensicParser.parse)
  val Tls = new Family(TlsReportParser.parseAny)

  /** The batch `binaryFile` scan: (path, content) of every file under `path` named by `glob`. */
  private[graft] def files(spark: SparkSession, path: String, glob: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(path)
      .select(col("path"), col("content"))

  def aggregateReports(spark: SparkSession, path: String, glob: String = "*"): Dataset[AggregateReport] =
    Aggregate.reports(files(spark, path, glob))

  /** Flattened `dmarc_aggregate_records` rows — the table every overview
    * dashboard panel aggregates (clickhouse.go:107-138). On a cluster
    * this would persist as parquet partitioned by month(begin_date),
    * sorted within partitions by (org_name, source_ip_address).
    */
  def aggregateRecords(spark: SparkSession, path: String, glob: String = "*"): Dataset[AggregateRecordRow] =
    records(aggregateReports(spark, path, glob))

  /** Reports → flattened record rows, for every intake: the batch reader
    * above, the drop-directory stream and IMAP.
    */
  def records(reports: Dataset[AggregateReport]): Dataset[AggregateRecordRow] = {
    val s = reports.sparkSession
    import s.implicits._
    reports.flatMap(recordRows)
  }

  /** Report → flattened per-record rows, the row mapping of [[records]]. */
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

  def forensicReports(spark: SparkSession, path: String, glob: String = "*"): Dataset[ForensicReport] =
    Forensic.reports(files(spark, path, glob))

  /** Forensic reports with the deterministic geo/rDNS enrichment applied
    * to `source` (the forensic twin of `enrichedRecords` — without it
    * the forensic dashboard's Top Source Countries panel only ever sees
    * the offline parser's "Unknown").
    */
  def enrichedForensic(spark: SparkSession, path: String, glob: String = "*"): DataFrame =
    graft.functions.GeoEnrichment.enrichForensic(
      forensicReports(spark, path, glob).toDF())

  def tlsReports(spark: SparkSession, path: String, glob: String = "*"): Dataset[TlsReport] =
    Tls.reports(files(spark, path, glob))

  /** (path, error) for files that fail to parse as aggregate reports. */
  def aggregateErrors(spark: SparkSession, path: String, glob: String = "*"): Dataset[(String, String)] =
    Aggregate.errors(files(spark, path, glob))
}
