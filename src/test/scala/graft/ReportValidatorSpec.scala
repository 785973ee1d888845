package graft

import graft.sources.{DmarcReader, ReportValidator}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

class ReportValidatorSpec extends AnyFunSuite {

  private val samples = "/root/reference/samples"
  private def bytes(p: String) = Files.readAllBytes(Paths.get(p))

  test("valid sample report passes validation") {
    val r = ReportValidator.validateAggregate(
      bytes(s"$samples/aggregate/example.net!example.com!1529366400!1529452799.xml"))
    assert(r.valid, r.errors)
  }

  test("invalid XML fails with structural error") {
    val r = ReportValidator.validateAggregate(bytes(s"$samples/aggregate/invalid_xml.xml"))
    assert(!r.valid && r.errors.contains("Invalid XML format"))
  }

  test("a truncated gzip payload is an invalid result, not an exception") {
    val out = new java.io.ByteArrayOutputStream
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(("<feedback><report_metadata><org_name>acme</org_name>" * 20).getBytes("UTF-8"))
    gz.close()
    val cut = out.toByteArray.dropRight(16)
    for (r <- Seq(ReportValidator.validateAggregate(cut), ReportValidator.validateTlsJson(cut))) {
      assert(!r.valid && r.errors.head.startsWith("corrupt compressed payload"), r.errors)
    }
    val (family, any) = ReportValidator.validateAny(cut)
    assert(family == "aggregate" && !any.valid)
  }

  test("missing fields produce the reference's error messages") {
    val xml =
      """<feedback><report_metadata><email>not-an-email</email>
        |<report_id>r</report_id>
        |<date_range><begin>100</begin><end>50</end></date_range></report_metadata>
        |<policy_published><domain>bad_domain</domain><p>bogus</p></policy_published>
        |</feedback>""".stripMargin
    val r = ReportValidator.validateAggregate(xml.getBytes)
    assert(!r.valid)
    assert(r.errors.contains("Missing organization name"))
    assert(r.errors.contains("Invalid domain format in policy published"))
    assert(r.errors.contains("Invalid DMARC policy value"))
    assert(r.errors.exists(_.contains("end date is before begin date")))
    assert(r.warnings.contains("Invalid email format"))
    assert(r.warnings.contains("No records found in report"))
  }

  test("report id and size rules") {
    assert(!ReportValidator.validateReportId("").valid)
    assert(!ReportValidator.validateReportId("a" * 300).valid)
    assert(!ReportValidator.validateReportId("bad<script>").valid)
    assert(ReportValidator.validateReportId("example.com:123").valid)
    assert(!ReportValidator.validateSize(0, 100).valid)
    assert(!ReportValidator.validateSize(200, 100).valid)
    assert(ReportValidator.validateSize(50, 100).valid)
  }

  test("TLS JSON validation: good samples pass, malformed content fails at audit time") {
    val good = ReportValidator.validateTlsJson(bytes(s"$samples/smtp_tls/rfc8460.json"))
    assert(good.valid, good.errors)
    val notJson = ReportValidator.validateTlsJson("{ broken".getBytes("UTF-8"))
    assert(!notJson.valid && notJson.errors.contains("Invalid JSON format"))
    val notTls = ReportValidator.validateTlsJson("""{"foo": 1}""".getBytes("UTF-8"))
    assert(!notTls.valid && notTls.errors.contains("Missing organization name"))
    val degenerate = ReportValidator.validateTlsJson(
      """{"organization-name": "o"}""".getBytes("UTF-8"))
    assert(degenerate.valid)
    assert(degenerate.warnings.contains("Missing date-range"))
    assert(degenerate.warnings.contains("No policies found in report"))
  }

  test("base64 validation matches validator.go's strict decode") {
    assert(ReportValidator.validateBase64("aGVsbG8=").valid)
    assert(!ReportValidator.validateBase64("not base64!!!").valid)
    assert(ReportValidator.validateBase64("aGVs\nbG8=").valid) // wrapped MIME lines
  }

  test("validateAny dispatches to the right family") {
    val (tf, tr) = ReportValidator.validateAny(bytes(s"$samples/smtp_tls/rfc8460.json"))
    assert(tf == "smtp_tls" && tr.valid, tr.errors)
    val (af, ar) = ReportValidator.validateAny(
      bytes(s"$samples/aggregate/example.net!example.com!1529366400!1529452799.xml"))
    assert(af == "aggregate" && ar.valid, ar.errors)
    val (ff, fr) = ReportValidator.validateAny(
      bytes(s"$samples/forensic/dmarc_ruf_report_linkedin.eml"))
    assert(ff == "forensic" && fr.valid, fr.errors)
  }

  test("email/domain/ip/policy helpers match validator.go semantics") {
    import ReportValidator._
    assert(isValidEmail("a.b+c@example.co"))
    assert(!isValidEmail("not-an-email"))
    assert(isValidDomain("mail.example.com") && !isValidDomain("bad_domain") && !isValidDomain(""))
    assert(isValidIpLiteral("192.168.1.1") && isValidIpLiteral("2001:db8::1"))
    assert(!isValidIpLiteral("notanip"))
    assert(isValidPolicy("none") && isValidPolicy("reject") && !isValidPolicy("p=none"))
  }
}

class ReportValidatorSparkSpec extends SparkSpec {
  test("distributed archive audit flags exactly the bad files") {
    val df = ReportValidator.validateDirectory(
      spark, "/root/reference/samples/aggregate", "*.xml").cache()
    val bad = df.filter(!org.apache.spark.sql.functions.col("valid"))
      .select("path").collect().map(_.getString(0)).toSet
    assert(bad.exists(_.contains("invalid_xml.xml")))
    assert(df.count() > bad.size) // most sample files are valid
  }
}
