package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import graft.sources.{DmarcReader, IngestMetrics}

class IngestMetricsSpec extends SparkSpec {
  test("metrics agree with the ingest datasets") {
    val path = s"${DmarcFixtures.Root}/aggregate"
    val m = IngestMetrics.aggregateSummary(spark, path).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("dmarc_reports_parsed_total") > 0)
    assert(m("dmarc_parse_errors_total") > 0) // invalid_* samples exist
    assert(m("dmarc_records_total") ==
      DmarcReader.aggregateRecords(spark, path).count().toDouble)
    assert(m("dmarc_messages_total") >= m("dmarc_records_total"))
    assert(m("dmarc_records_per_report_avg") ==
      m("dmarc_records_total") / m("dmarc_reports_parsed_total"))
  }

  private def report(id: String, counts: Seq[Int]): Array[Byte] = {
    val records = counts.zipWithIndex.map { case (c, i) =>
      s"""<record><row><source_ip>192.0.2.${i + 1}</source_ip><count>$c</count>
         |<policy_evaluated><disposition>none</disposition><dkim>pass</dkim></policy_evaluated></row>
         |<identifiers><header_from>example.com</header_from></identifiers></record>""".stripMargin
    }
    s"""<?xml version="1.0"?><feedback><report_metadata><org_name>acme</org_name>
       |<report_id>$id</report_id>
       |<date_range><begin>1538204542</begin><end>1538250000</end></date_range></report_metadata>
       |<policy_published><domain>example.com</domain><p>none</p></policy_published>
       |${records.mkString("\n")}</feedback>""".stripMargin.getBytes("UTF-8")
  }

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream
    val gz = new GZIPOutputStream(out)
    gz.write(b)
    gz.close()
    out.toByteArray
  }

  test("one pass over a written corpus: plain and gz reports, bad XML, truncated gz") {
    val dir = Files.createTempDirectory("ingest-metrics")
    def put(name: String, bytes: Array[Byte]): Path = Files.write(dir.resolve(name), bytes)
    try {
      put("plain.xml", report("r1", Seq(7, 3)))
      put("packed.xml.gz", gzip(report("r2", Seq(5))))
      put("bad.xml", "<feedback><broken".getBytes("UTF-8"))
      val whole = gzip(report("r3", Seq(1, 1, 1)))
      put("cut.xml.gz", whole.take(whole.length / 2))

      val m = IngestMetrics.aggregateSummary(spark, dir.toString).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(m == Map(
        "dmarc_reports_parsed_total" -> 2.0,
        "dmarc_parse_errors_total" -> 2.0,
        "dmarc_records_total" -> 3.0,
        "dmarc_messages_total" -> 15.0,
        "dmarc_records_per_report_avg" -> 1.5))

      // the truncated archive is a rejected file, not a failed read
      val errors = DmarcReader.aggregateErrors(spark, dir.toString).collect()
        .map { case (p, e) => p.split('/').last -> e }.toMap
      assert(errors.keySet == Set("bad.xml", "cut.xml.gz"))
      assert(errors("cut.xml.gz").startsWith("corrupt compressed payload"))
      assert(DmarcReader.aggregateRecords(spark, dir.toString).count() == 3)
    } finally {
      Files.list(dir).forEach(f => Files.delete(f))
      Files.delete(dir)
    }
  }
}
