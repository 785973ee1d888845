package graft

import graft.api.DmarcAnalytics
import graft.sources.{DmarcReader, OutputWriters}
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The complete user story in one pass — what a parsedmarc-go deployment
  * does daily, on Spark: ingest raw report files → flatten to the record
  * table → persist month/org-partitioned parquet → run the dashboard
  * queries off the store with partition pruning.
  */
class EndToEndSpec extends SparkSpec {

  test("ingest -> partitioned store -> dashboard analytics round-trip") {
    val dir = Files.createTempDirectory("graft-e2e").toString
    val records = DmarcReader.aggregateRecords(spark, s"${DmarcFixtures.Root}/aggregate")

    // store (the ClickHouse-table equivalent)
    OutputWriters.writeDirectoryMode(records, s"$dir/records")
    val stored = spark.read.parquet(s"$dir/records")

    // dashboards off the store match dashboards off the in-flight data
    val fromStore = DmarcAnalytics.complianceRate(stored).collect().head.getDouble(0)
    val direct = DmarcAnalytics.complianceRate(records.toDF()).collect().head.getDouble(0)
    assert(fromStore == direct)

    val dailyStore = DmarcAnalytics.dailyVolume(stored)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val dailyDirect = DmarcAnalytics.dailyVolume(records.toDF())
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(dailyStore == dailyDirect && dailyStore.nonEmpty)

    // a month-windowed query only touches that month's partitions
    val oneMonth = stored.filter(col("report_month") === "201809")
    val scanned = oneMonth.queryExecution.executedPlan.toString
    assert(scanned.contains("PartitionFilters: [isnotnull(report_month"), scanned)
    assert(oneMonth.count() > 0)

    // top-sources off the store behaves identically
    val ts = DmarcAnalytics.topSources(stored, minMessages = 1, n = 10).count()
    val td = DmarcAnalytics.topSources(records.toDF(), minMessages = 1, n = 10).count()
    assert(ts == td)
  }

  test("writeRecordsTable: MergeTree-parity layout (month partitions, sorted files)") {
    val dir = Files.createTempDirectory("graft-table").toString
    val records = DmarcReader.aggregateRecords(spark, s"${DmarcFixtures.Root}/aggregate")
    OutputWriters.writeRecordsTable(records, s"$dir/t")

    // month partition directories exist and a month filter prunes
    val stored = spark.read.parquet(s"$dir/t")
    assert(stored.count() == records.count())
    val months = new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.startsWith("report_month=")).map(_.getName)
    assert(months.length > 1, months.mkString(","))
    val pruned = stored.filter(col("report_month") === "201809")
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(report_month"))

    // within every physical file rows are sorted on the MergeTree key,
    // so parquet row-group min/max stats can skip on (org, report, ip)
    val files = new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.startsWith("report_month="))
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    assert(files.nonEmpty)
    files.foreach { f =>
      val keys = spark.read.parquet(f.toString)
        .select("org_name", "report_id", "source_ip_address")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      assert(keys == keys.sorted, s"unsorted rows in ${f.getName}")
    }
  }

  test("all five reference tables materialize in their MergeTree layouts") {
    import graft.api.TlsAnalytics
    val dir = Files.createTempDirectory("graft-tables").toString
    val reports = DmarcReader.aggregateReports(spark, s"${DmarcFixtures.Root}/aggregate")
    val forensic = DmarcReader.forensicReports(spark, s"${DmarcFixtures.Root}/forensic", "*.eml")
    val tls = DmarcReader.tlsReports(spark, s"${DmarcFixtures.Root}/smtp_tls")

    OutputWriters.writeReportsTable(reports, s"$dir/reports")
    OutputWriters.writeForensicTable(forensic, s"$dir/forensic")
    OutputWriters.writeTlsReportsTable(TlsAnalytics.tlsReportRows(tls), s"$dir/tls_reports")
    OutputWriters.writeTlsFailuresTable(TlsAnalytics.tlsFailureRows(tls), "202608", s"$dir/tls_failures")

    def monthsOf(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.startsWith("report_month=")).map(_.getName).toSeq
    assert(spark.read.parquet(s"$dir/reports").count() == reports.count())
    assert(monthsOf(s"$dir/reports").nonEmpty)
    assert(spark.read.parquet(s"$dir/forensic").count() == forensic.count())
    assert(monthsOf(s"$dir/forensic").nonEmpty)
    assert(spark.read.parquet(s"$dir/tls_reports").count() ==
      TlsAnalytics.tlsReportRows(tls).count())
    assert(monthsOf(s"$dir/tls_reports").nonEmpty)
    assert(spark.read.parquet(s"$dir/tls_failures").count() ==
      TlsAnalytics.tlsFailureRows(tls).count())
    assert(monthsOf(s"$dir/tls_failures") == Seq("report_month=202608"))
    // sortedness on the failures table's ORDER BY key inside each file
    val fFiles = new java.io.File(s"$dir/tls_failures").listFiles()
      .filter(_.getName.startsWith("report_month="))
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    fFiles.foreach { f =>
      val keys = spark.read.parquet(f.toString)
        .select("report_id", "result_type")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(keys == keys.sorted, s"unsorted rows in ${f.getName}")
    }
  }
}
