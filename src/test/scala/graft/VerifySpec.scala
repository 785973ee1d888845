package graft

import java.nio.file.{Files, Paths}

import graft.operators.DmarcIngest
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Verify's output directory records which entries failed and why. */
class VerifySpec extends SparkSpec {

  test("_failures.json names each failed entry with its exception and message") {
    val out = Files.createTempDirectory("graft-verify").resolve("out").toString
    val missing = Files.createTempDirectory("graft-corpus").resolve("absent").toString
    withSamplesRoot(missing) {
      Verify.run(spark, sfDir, out, Some(Set("q1_pricing_summary", "p_aggregate_xml")))
    }
    implicit val formats: Formats = DefaultFormats
    val failures = JsonMethods.parse(Files.readString(Paths.get(out, "_failures.json")))
      .extract[Seq[Map[String, String]]]
    assert(failures.map(_("entry")) == Seq("p_aggregate_xml"), failures)
    val failure = failures.head
    assert(failure("exception") == "java.io.FileNotFoundException")
    assert(failure("message") == s"DMARC sample corpus root $missing is not a directory: " +
      s"set ${DmarcIngest.SamplesConf} to a corpus holding aggregate/, extract_report/, " +
      "forensic/ and smtp_tls/")
    // the passing entry is written, and the oracle file is still there
    assert(spark.read.parquet(s"$out/q1_pricing_summary").count() > 0)
    assert(Files.exists(Paths.get(out, "oracle_sql.json")))
  }

  test("_failures.json is an empty list when every entry passes") {
    val out = Files.createTempDirectory("graft-verify").resolve("out").toString
    Verify.run(spark, sfDir, out, Some(Set("q1_pricing_summary")))
    assert(Files.readString(Paths.get(out, "_failures.json")) == "[]")
  }
}
