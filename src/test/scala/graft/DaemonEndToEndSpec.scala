package graft

import java.nio.file.{Files, Paths}

import graft.sources._
import org.apache.spark.sql.functions._

/** The reference integration suite's EndToEnd scenario
  * (test/integration/integration_test.go), composed entirely from
  * in-process protocol-true services: mail arrives over IMAP, the CLI
  * daemon polls it into the intake directory, Spark parses the drop
  * with the shared executor-side parser, the five ClickHouse tables
  * fill over the real HTTP wire dialect, and the daemon's own HTTP
  * endpoint serves a summary document reflecting the stored records —
  * the full runDaemon loop: intake → parse → store → serve.
  *
  * The parse+store leg runs as a Spark batch here (the documented
  * Spark-first split: the daemon's poll loop drops bytes, the cluster
  * parses them — ReportFileIntake is the continuous variant of the
  * same plan).
  */
class DaemonEndToEndSpec extends SparkSpec {

  private val Samples = DmarcFixtures.Root

  test("mail over IMAP -> daemon -> Spark parse -> ClickHouse wire -> HTTP summary") {
    // seed a real IMAP server with two aggregate reports as mail
    val seed = Seq(
      "empty_reason.xml",
      "mail.receiver.example!example.com!1536192000!1536278399.xml",
    ).map { name =>
      ImapIntake.wrapReportEmail(name,
        Files.readAllBytes(Paths.get(s"$Samples/aggregate/$name")))
    }
    // ImapSettings.tls defaults true, so the daemon's poll loop dials IMAPS —
    // the end-to-end chain exercises the reference's default encrypted posture.
    val imap = new InMemoryImap("dmarc", "secret", seed,
      security = ImapSecurity.Imaps)
    val clickhouse = new InMemoryClickHouse()
    val dropDir = Files.createTempDirectory("daemon-e2e").toString
    @volatile var summaryDoc = "{}"

    try {
      val cfg = GraftConfig(
        imap = ImapSettings(enabled = true, host = "127.0.0.1", port = imap.port,
          username = "dmarc", password = "secret", checkIntervalSec = 1),
        http = HttpSettings(enabled = true, port = 0))
      val daemon = GraftCli.startDaemon(cfg, dropDir, summary = () => summaryDoc)
      try {
        // 1. intake: the poll loop fetches and archives the mailbox
        val deadline = System.nanoTime() + 15e9.toLong
        while (daemon.pollCount < 1 && System.nanoTime() < deadline) Thread.sleep(50)
        assert(Files.list(Paths.get(dropDir)).count() == 2)
        assert(imap.archivedCount == 2)
        assert(imap.lastNegotiated.startsWith("TLS"),
          s"daemon poll must run over TLS, saw ${imap.lastNegotiated}")

        // 2. parse: the shared executor-side parser over the drop dir
        val reports = DmarcReader.aggregateReports(spark, dropDir)
        val records = DmarcReader.enrichedRecords(spark, dropDir)
        assert(reports.count() == 2)

        // 3. store: all five tables over the real ClickHouse HTTP wire
        val base = s"http://127.0.0.1:${clickhouse.port}"
        ClickHouseHttp.createTables(base)
        ClickHouseHttp.insertDataFrame(base, "dmarc_aggregate_reports",
          OutputWriters.reportsTableLayout(reports))
        ClickHouseHttp.insertDataFrame(base, "dmarc_aggregate_records", records)
        assert(ClickHouseHttp.count(base, "dmarc_aggregate_reports") == 2)
        val recordCount = ClickHouseHttp.count(base, "dmarc_aggregate_records")
        assert(recordCount == records.count() && recordCount >= 2)

        // 4. serve: the daemon's HTTP endpoint reflects the stored data
        summaryDoc = graft.api.DmarcAnalytics.summaryJson(
          records, DmarcReader.enrichedForensic(spark, dropDir))
        val port = daemon.httpPort.get
        val served = new String(
          new java.net.URI(s"http://127.0.0.1:$port/summary").toURL
            .openStream().readAllBytes(), "UTF-8")
        assert(served == summaryDoc)
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val node = mapper.readTree(served)
        assert(node.has("summary"))
      } finally daemon.stop()
    } finally { imap.close(); clickhouse.close() }
  }
}
