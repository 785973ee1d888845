package graft.streaming

import graft.sources.{AggregateRecordRow, AggregateReport, DmarcReader}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous intake of raw DMARC report FILES from a drop directory —
  * the Spark twin of the reference's IMAP poll loop
  * (internal/imap/client.go:409: poll mailbox → fetch attachments →
  * parse → store, forever). Here the mail fetcher (an un-Spark-able
  * network client) is replaced by any agent dropping files into a
  * directory (or object-store prefix); Structured Streaming's file
  * source provides the poll loop, checkpointed exactly-once processing
  * of each file, and `maxFilesPerTrigger` backpressure. The parse is
  * the SAME executor-side parser as the batch path, so batch and
  * continuous ingestion can never drift.
  */
object ReportFileIntake {

  private val MaxFilesPerTrigger = 64

  /** The drop directory as a `binaryFile` stream, `maxFilesPerTrigger`
    * new files per micro-batch.
    */
  private def fileStream(spark: SparkSession, dropDir: String, glob: String,
                         maxFilesPerTrigger: Int): DataFrame =
    spark.readStream.format("binaryFile")
      .schema(BinaryFileFormat.schema)
      .option("pathGlobFilter", glob)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .load(dropDir)

  /** (path, content) stream of newly arrived report files, the input of
    * a `DmarcReader` family's `reports`.
    *
    * The watermarked path dedup guards a real hazard of mail-derived
    * filenames (the reference saves reports under their email subject —
    * spaces, brackets, parens): the file source's seen-files map can
    * miss relisted paths containing glob metacharacters and deliver the
    * same file in two consecutive micro-batches. Dedup state is evicted
    * once the watermark passes a file's modification time + 1h, so it
    * stays bounded by recent-arrival count, not all-time file count.
    */
  def reportFileStream(spark: SparkSession, dropDir: String, glob: String = "*",
                       maxFilesPerTrigger: Int = MaxFilesPerTrigger): DataFrame =
    fileStream(spark, dropDir, glob, maxFilesPerTrigger)
      .withWatermark("modificationTime", "1 hour")
      .dropDuplicatesWithinWatermark("path")
      .select(col("path"), col("content"))

  /** Flattened record rows (the `dmarc_aggregate_records` shape) as a
    * stream — ready to append to the same table the batch path fills.
    * Unparseable files are skipped, as in the batch readers.
    */
  def aggregateRecordStream(spark: SparkSession, dropDir: String,
                            glob: String = "*"): Dataset[AggregateRecordRow] =
    DmarcReader.records(DmarcReader.Aggregate.reports(reportFileStream(spark, dropDir, glob)))

  /** Aggregate reports with mailbox-redelivery dedup: an IMAP mailbox
    * can deliver the same report repeatedly (cc'd copies, re-polls,
    * multiple recipient folders) — the reference marks processed
    * messages seen; here duplicate REPORT IDs arriving within the
    * watermark horizon collapse to the first copy even when the files
    * differ. State holds one id per recently arrived report and evicts
    * an hour of arrival time behind the newest file.
    */
  def dedupedAggregateReports(spark: SparkSession, dropDir: String,
                              glob: String = "*"): Dataset[AggregateReport] = {
    import spark.implicits._
    // built on the RAW stream (not the path-deduped one): report-id
    // dedup subsumes path dedup here — a double-listed path parses to
    // the same report id — and Spark allows only one watermark
    // definition per stateful chain
    DmarcReader.Aggregate.keyedReports[java.sql.Timestamp](
        fileStream(spark, dropDir, glob, MaxFilesPerTrigger), "modificationTime")
      .toDF("_arrival", "report")
      .withWatermark("_arrival", "1 hour")
      .withColumn("_rid", col("report.reportId"))
      .dropDuplicatesWithinWatermark("_rid")
      .select("report.*").as[AggregateReport]
  }

  /** The full ingest loop: drop directory → parse → append-mode parquet
    * records table. Each file is processed exactly once across restarts
    * (file-source checkpoint); on a cluster outPath is object storage
    * partitioned by month(begin_date) like the batch table.
    */
  def appendRecords(spark: SparkSession, dropDir: String, outPath: String,
                    checkpoint: String, glob: String = "*",
                    trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    aggregateRecordStream(spark, dropDir, glob)
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(trigger)
      .start()
}
