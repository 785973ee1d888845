package graft

import graft.sources._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Pure-JVM parser semantics, pinned to the reference's behavior
  * (internal/parser/parser.go, internal/parser/parser_test.go).
  */
class DmarcParserSpec extends AnyFunSuite {

  private val samples = "/root/reference/samples"
  private def bytes(p: String): Array[Byte] = Files.readAllBytes(Paths.get(p))

  private val minimalXml =
    """<?xml version="1.0"?><feedback>
      |<report_metadata>
      | <org_name>acme</org_name><email>a@acme.org</email>
      | <report_id>r1</report_id>
      | <date_range><begin>1538204542</begin><end>1538250000</end></date_range>
      |</report_metadata>
      |<policy_published><domain>example.com</domain><p>none</p></policy_published>
      |<record>
      | <row><source_ip>1.2.3.4</source_ip><count>7</count>
      |  <policy_evaluated><disposition>none</disposition><dkim>pass</dkim></policy_evaluated></row>
      | <identifiers><header_from>Example.COM</header_from></identifiers>
      | <auth_results><spf><domain>example.com</domain><result>pass</result></spf></auth_results>
      |</record></feedback>""".stripMargin

  test("aggregate XML: policy defaults adkim/aspf=r, sp:=p, pct=100, fo=0") {
    val r = AggregateXmlParser.parse(minimalXml.getBytes).toOption.get
    assert(r.adkim == "r" && r.aspf == "r")
    assert(r.sp == "none" && r.pct == "100" && r.fo == "0")
    assert(r.orgName == "acme" && r.reportId == "r1")
  }

  test("aggregate XML: alignment derives from policy_evaluated; spf defaults to fail") {
    val r = AggregateXmlParser.parse(minimalXml.getBytes).toOption.get
    val rec = r.records.head
    assert(rec.dkimAligned && !rec.spfAligned && rec.dmarcAligned)
    assert(rec.policyEvalSpf == "fail") // missing <spf> in policy_evaluated
    assert(rec.headerFrom == "example.com") // lowercased
    assert(rec.spf.head.scope == "mfrom") // default scope
    assert(rec.count == 7)
  }

  test("aggregate XML: >48h date range rejected (RFC 7489 §7.2)") {
    val wide = minimalXml.replace("<end>1538250000</end>", "<end>1538404542</end>")
    assert(AggregateXmlParser.parse(wide.getBytes).isLeft)
  }

  test("aggregate XML: invalid XML is a Left, not an exception") {
    assert(AggregateXmlParser.parse("<feedback><broken".getBytes).isLeft)
    assert(AggregateXmlParser.parse(bytes(s"$samples/aggregate/invalid_xml.xml")).isLeft)
  }

  test("reference invalid-sample parity: aggregate_invalid + empty.xml reject") {
    // the reference's own negative fixtures (parser_test.go:201-212,
    // wantErr: true): report_with_upper_cased_pass.xml actually fails
    // on its 97-hour date range (parser.go:1174's 48h guard), not the
    // letter case — mixed-case pass values themselves are tolerated and
    // lowercased (parser.go:1236) on both sides
    assert(AggregateXmlParser
      .parse(bytes(s"$samples/aggregate_invalid/report_with_upper_cased_pass.xml"))
      .isLeft)
    assert(AggregateXmlParser.parse(bytes(s"$samples/empty.xml")).isLeft)
  }

  test("gzip and zip payloads extract to the same report") {
    val plain = AggregateXmlParser.parseAny(bytes(s"$samples/extract_report/nice-input.xml"))
    val gz = AggregateXmlParser.parseAny(bytes(s"$samples/extract_report/nice-input.xml.gz"))
    val zip = AggregateXmlParser.parseAny(bytes(s"$samples/extract_report/nice-input.xml.zip"))
    assert(plain.isRight && gz.isRight && zip.isRight)
    assert(plain.toOption.get.reportId == gz.toOption.get.reportId)
    assert(plain.toOption.get.reportId == zip.toOption.get.reportId)
  }

  test("aggregate sample corpus parses (xml + compressed + eml wrappers)") {
    val dir = new java.io.File(s"$samples/aggregate")
    val parsed = dir.listFiles.toSeq
      .filter(_.isFile)
      .map(f => AggregateXmlParser.parseAny(Files.readAllBytes(f.toPath)))
    assert(parsed.count(_.isRight) >= 11)
  }

  test("ReportParser: aggregate, forensic, smtp_tls in order; Left names all three") {
    def family(s: String) = ReportParser.parse(s.getBytes("UTF-8")).map(_.family)
    assert(family(minimalXml) == Right("aggregate"))
    assert(family("Subject: s\n\nFeedback-Type: auth-failure\nSource-IP: 1.1.1.1\n") ==
      Right("forensic"))
    assert(family("""{"organization-name": "o"}""") == Right("smtp_tls"))
    val err = family("not a report").left.toOption.get
    assert(err.startsWith("aggregate: ") && err.contains("; forensic: ") &&
      err.contains("; smtp_tls: "), err)
  }

  test("forensic: field map + defaults per parser.go:1563-1694") {
    val fb =
      """Feedback-Type: auth-failure
        |User-Agent: X/1.0
        |Source-IP: 9.9.9.9 extra
        |Delivery-Result: Message was Spam-foldered
        |Auth-Failure: spf, dkim
        |""".stripMargin
    val r = ForensicParser.fromFeedback(fb, "From: x@bad.example\nbody", "subj", "mid",
      new java.sql.Timestamp(0))
    assert(r.feedbackType == "auth-failure")
    assert(r.source.ipAddress == "9.9.9.9") // first token only
    assert(r.deliveryResult == "spam") // normalized
    assert(r.authFailure == Seq("spf", "dkim"))
    assert(r.reportedDomain == "bad.example") // From: fallback
  }

  test("forensic: empty fields get defaults (auth-failure, other, [dmarc])") {
    val r = ForensicParser.fromFeedback("Source-IP: 1.1.1.1", "", "s", "m",
      new java.sql.Timestamp(0))
    assert(r.feedbackType == "auth-failure")
    assert(r.deliveryResult == "other")
    assert(r.authFailure == Seq("dmarc"))
  }

  test("forensic sample corpus: all 4 .eml files parse") {
    val dir = new java.io.File(s"$samples/forensic")
    val parsed = dir.listFiles.toSeq.filter(_.getName.endsWith(".eml"))
      .map(f => ForensicParser.parse(Files.readAllBytes(f.toPath)))
    assert(parsed.size == 4 && parsed.forall(_.isRight))
  }

  test("smtp-tls: RFC 8460 JSON fields") {
    val r = TlsReportParser.parseJson(bytes(s"$samples/smtp_tls/rfc8460.json")).toOption.get
    assert(r.organizationName == "Company-X")
    assert(r.reportId == "5065427c-23d3-47ca-b6e0-946ea0e8c4be")
    assert(r.policies.head.policyDomain == "company-y.example")
    assert(r.policies.head.successfulSessionCount == 5326L)
    assert(r.policies.head.failureDetails.head.resultType == "certificate-expired")
  }

  test("smtp-tls: email-wrapped report (google .eml) parses via MIME") {
    val r = TlsReportParser.parseAny(bytes(s"$samples/smtp_tls/google.com_smtp_tls_report.eml"))
    assert(r.isRight)
    assert(r.toOption.get.organizationName.nonEmpty)
  }

  test("base-domain-free offline source matches reference offline mode") {
    val s = AggregateXmlParser.offlineSource("8.8.8.8")
    assert(s.country == "Unknown" && s.sourceType == "Unknown" && s.reverseDns == "")
  }
}
