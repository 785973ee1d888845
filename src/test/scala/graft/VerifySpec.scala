package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.DmarcIngest
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** Verify's output directory records which entries failed and why, and
  * its Spark jobs say which entry they ran for.
  */
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

  test("an entry's jobs are described by its name, and the caller's description returns") {
    val out = Files.createTempDirectory("graft-verify").resolve("out").toString
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descriptions.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    sc.addSparkListener(listener)
    try {
      Verify.run(spark, sfDir, out, Some(Set("q1_pricing_summary")))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      // listener events arrive in order: once this job is seen, so are Verify's
      sc.setJobDescription("sentinel")
      sc.parallelize(Seq(1)).count()
      eventually(timeout(60.seconds)) { assert(descriptions.contains("sentinel")) }
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
    }
    val ran = descriptions.asScala.toSeq.takeWhile(_ != "sentinel")
    assert(ran.nonEmpty && ran.forall(_ == "q1_pricing_summary"), ran)
  }
}
