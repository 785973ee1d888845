package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import graft.sources.DmarcReader
import graft.streaming.ReportFileIntake

/** Drop-directory report intake: the streaming twin of the batch reader
  * must process each arriving file exactly once across query restarts
  * (file-source checkpoint) and produce byte-identical record rows to
  * the batch parse of the same files.
  */
class ReportFileIntakeSpec extends SparkSpec {

  private val samples = s"${DmarcFixtures.Root}/aggregate"

  private def copyIn(drop: Path, name: String): Unit =
    Files.copy(java.nio.file.Paths.get(samples, name), drop.resolve(name),
               StandardCopyOption.REPLACE_EXISTING)

  test("two micro-batches, no duplicate records, parity with batch parse") {
    val tmp = Files.createTempDirectory("intake")
    val drop = Files.createDirectories(tmp.resolve("drop"))
    val out = tmp.resolve("out").toString
    val ckpt = tmp.resolve("ckpt").toString

    // micro-batch 1: one report file arrives
    copyIn(drop, "mail.receiver.example!example.com!1536192000!1536278399.xml")
    val q1 = ReportFileIntake.appendRecords(spark, drop.toString, out, ckpt)
    assert(q1.awaitTermination(120000))
    val n1 = spark.read.parquet(out).count()
    assert(n1 > 0)

    // micro-batch 2 (restarted query, same checkpoint): a second file
    // drops; ONLY the new file may be processed
    copyIn(drop, "example.net!example.com!1529366400!1529452799.xml")
    val q2 = ReportFileIntake.appendRecords(spark, drop.toString, out, ckpt)
    assert(q2.awaitTermination(120000))

    val streamed = spark.read.parquet(out)
    val batch = DmarcReader.aggregateRecords(spark, drop.toString).toDF()
    assert(streamed.count() == batch.count())
    // same multiset of rows as the batch parse of the same directory
    val cols = Seq("report_id", "org_name", "source_ip_address", "count", "disposition")
    val s = streamed.select(cols.head, cols.tail: _*).collect().map(_.toString).sorted
    val b = batch.select(cols.head, cols.tail: _*).collect().map(_.toString).sorted
    assert(s.toSeq == b.toSeq)
    // both reports present exactly once
    assert(streamed.select("report_id").distinct().count() == 2)
  }

  test("forensic and TLS streams parse the same corpus as the batch readers") {
    import org.apache.spark.sql.streaming.Trigger
    def drain(df: org.apache.spark.sql.DataFrame, name: String): Long = {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000))
      spark.table(name).count()
    }
    val nF = drain(DmarcReader.Forensic.reports(ReportFileIntake.reportFileStream(
      spark, s"${DmarcFixtures.Root}/forensic", "*.eml")).toDF(),
      s"st_forensic_${System.nanoTime()}")
    assert(nF == DmarcReader.forensicReports(
      spark, s"${DmarcFixtures.Root}/forensic", "*.eml").count() && nF > 0)
    val nT = drain(DmarcReader.Tls.reports(ReportFileIntake.reportFileStream(
      spark, s"${DmarcFixtures.Root}/smtp_tls")).toDF()
        .selectExpr("reportId", "organizationName", "size(policies) AS n_policies"),
      s"st_tls_${System.nanoTime()}")
    assert(nT == DmarcReader.tlsReports(
      spark, s"${DmarcFixtures.Root}/smtp_tls").count() && nT > 0)
  }

  test("redelivered reports (same id, different files) collapse to one copy") {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = Files.createTempDirectory("intake_dup")
    val drop = Files.createDirectories(tmp.resolve("drop"))
    val orig = java.nio.file.Paths.get(samples, "mail.receiver.example!example.com!1536192000!1536278399.xml")
    // the same report delivered THREE times under different names, plus
    // one genuinely different report
    Files.copy(orig, drop.resolve("copy-a.xml"))
    Files.copy(orig, drop.resolve("copy-b.xml"))
    Files.copy(orig, drop.resolve("copy-c.xml"))
    copyIn(drop, "example.net!example.com!1529366400!1529452799.xml")
    val name = s"dedup_${System.nanoTime()}"
    val q = ReportFileIntake.dedupedAggregateReports(spark, drop.toString).toDF()
      .select("reportId", "orgName")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val out = spark.table(name).collect().map(_.getString(0)).toSeq
    assert(out.length == 2, out.mkString(","))
    assert(out.distinct.length == 2)
    // without the dedup the same directory yields 4 parsed reports
    assert(DmarcReader.aggregateReports(spark, drop.toString).count() == 4)
  }

  test("unparseable files are skipped, not fatal") {
    val tmp = Files.createTempDirectory("intake_bad")
    val drop = Files.createDirectories(tmp.resolve("drop"))
    copyIn(drop, "invalid_utf_8.xml")
    copyIn(drop, "mail.receiver.example!example.com!1536192000!1536278399.xml")
    val out = tmp.resolve("out").toString
    val q = ReportFileIntake.appendRecords(spark, drop.toString, out,
                                           tmp.resolve("ckpt").toString)
    assert(q.awaitTermination(120000))
    val streamed = spark.read.parquet(out)
    // the good file's records all land; the bad file contributes nothing
    assert(streamed.select("report_id").distinct().count() >= 1)
    assert(streamed.count() ==
      DmarcReader.aggregateRecords(spark, drop.toString).count())
  }
}
