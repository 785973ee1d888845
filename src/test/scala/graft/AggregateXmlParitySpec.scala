package graft.sources

import graft.DmarcFixtures
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The streaming aggregate-report pass against the scala-xml DOM walk it
  * replaced ([[AggregateXmlDomOracle]]): the same report or a Left on both
  * sides, for the parser and for the validator, over generated report XML
  * and over the fixture corpus; and the reader's hardening.
  */
class AggregateXmlParitySpec extends AnyFunSuite {

  private def check(p: Prop, tests: Int): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(tests), p)
    assert(r.passed, r.status.toString)
  }

  private def sameOutcome[A](a: Either[String, A], b: Either[String, A]): Boolean = (a, b) match {
    case (Right(x), Right(y)) => x == y
    case (Left(_), Left(_))   => true
    case _                    => false
  }

  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** `v` as element content, in the spellings XML allows for one text. */
  private def spelled(v: String): Gen[String] = {
    val (a, b) = v.splitAt(v.length / 2)
    Gen.frequency(
      6 -> Gen.const(escape(v)),
      2 -> Gen.oneOf(" ", "\n  ", "\t").map(ws => ws + escape(v) + ws),
      2 -> Gen.const(s"<![CDATA[$v]]>"),
      1 -> Gen.const(v.map(c => s"&#${c.toInt};").mkString),
      1 -> Gen.const(v.map(c => f"&#x${c.toInt}%x;").mkString),
      1 -> Gen.const(s"${escape(a)}<!-- note -->${escape(b)}"),
      1 -> Gen.const(s"${escape(a)}<?pi data?>${escape(b)}"),
      1 -> Gen.const(s"${escape(a)}<b>${escape(b)}</b>"),
      1 -> Gen.const(s"<i><x:u>${escape(a)}</x:u></i>${escape(b)}"))
  }

  /** An element, its name prefixed or not. */
  private def element(name: String, content: String): Gen[String] =
    Gen.frequency(5 -> "", 1 -> "x:", 1 -> "dmarc:").map(p => s"<$p$name>$content</$p$name>")

  private val ws: Gen[String] = Gen.oneOf("", "\n", "\n  ", " ")

  /** Usually one, sometimes none, sometimes two elements (two texts append). */
  private def repeated(g: Gen[String]): Gen[String] =
    Gen.frequency(8 -> 1, 1 -> 0, 1 -> 2).flatMap(n => Gen.listOfN(n, g)).map(_.mkString)

  private def once(name: String, values: Gen[String]): Gen[String] =
    for { v <- values; t <- spelled(v); e <- element(name, t) } yield e

  private def field(name: String, values: Gen[String]): Gen[String] = repeated(once(name, values))

  private def group(name: String, parts: Gen[String]*): Gen[String] =
    for {
      ps <- Gen.sequence[List[String], String](parts.toList)
      sep <- ws
      e <- element(name, ps.mkString(sep, sep, sep))
    } yield e

  private val words = Gen.oneOf(
    "acme", "Example.COM", "mail.example.org", "a@b.example", "not-an-email", "pass", "PASS",
    "fail", "none", "quarantine", "reject", "r", "s", "mfrom", "helo", "local_policy", "é ü",
    "x < y & z", "", "  ", "1", "0", "-3", "42", "x7")
  private val ips = Gen.oneOf("192.0.2.1", "2001:db8::5", "::ffff:192.0.2.1", "1.2.3", "", "host.example")
  private val begins = Gen.oneOf(1538204542L, 1529366400L, 0L)

  private val metadata: Gen[String] = for {
    begin <- begins
    span <- Gen.frequency(6 -> Gen.oneOf(0L, 86399L, 172800L, -5L), 1 -> Gen.oneOf(172801L, 400000L))
    dates <- Gen.frequency(
      8 -> Gen.const((begin.toString, (begin + span).toString)),
      1 -> Gen.const(("soon", "later")),
      1 -> Gen.const((begin.toString, "")))
    m <- group("report_metadata",
      field("org_name", words), field("email", words), field("extra_contact_info", words),
      field("report_id", words),
      group("date_range",
        Gen.frequency(4 -> once("begin", Gen.const(dates._1)), 1 -> field("begin", Gen.const(dates._1))),
        Gen.frequency(4 -> once("end", Gen.const(dates._2)), 1 -> field("end", Gen.const(dates._2)))),
      Gen.listOfN(2, field("error", words)).map(_.mkString))
  } yield m

  private val policy: Gen[String] = group("policy_published",
    field("domain", words), field("adkim", words), field("aspf", words), field("p", words),
    field("sp", words), field("pct", words), field("fo", words))

  private val authResult = Gen.oneOf("dkim", "spf").flatMap { kind =>
    group(kind, field("domain", words),
      field(if (kind == "dkim") "selector" else "scope", words), field("result", words))
  }

  private val record: Gen[String] = group("record",
    group("row",
      field("source_ip", ips), field("count", Gen.oneOf("7", "0", "12x", "", "2147483648")),
      group("policy_evaluated", field("disposition", words), field("dkim", words), field("spf", words),
        Gen.chooseNum(0, 2).flatMap(n => Gen.listOfN(n,
          group("reason", field("type", words), field("comment", words)))).map(_.mkString))),
    group("identifiers",
      field("header_from", words), field("envelope_from", words), field("envelope_to", words)),
    Gen.chooseNum(0, 3).flatMap(n => Gen.listOfN(n, authResult))
      .flatMap(rs => element("auth_results", rs.mkString)))

  /** Markup the walk must not read as a field: an unknown container
    * holding field names, a record nested in a record.
    */
  private val decoy: Gen[String] = Gen.oneOf("",
    "<extra><org_name>decoy</org_name><record><row><count>9</count></row></record></extra>",
    "<report_metadata_x><report_id>decoy</report_id></report_metadata_x>")

  private val roots = Gen.oneOf(
    "feedback" -> "", // cut at `<feedback>`; every other form is read whole
    "feedback" -> """ xmlns="http://dmarc.org/dmarc-xml/0.1"""",
    "d:feedback" -> """ xmlns:d="http://dmarc.org/dmarc-xml/0.1"""")

  private lazy val entityFile = {
    val f = Files.createTempFile("graft-entity", ".txt")
    Files.writeString(f, "entity file text")
    f.toFile.deleteOnExit()
    f
  }

  private val prologs = Gen.frequency(
    12 -> Gen.oneOf("", "\n", "\uFEFF", "<?xml version=\"1.0\"?>",
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n", "\uFEFF<?xml version=\"1.0\"?>",
      "<?xml version=\"1.1\"?>", "<?xml version=\"1.0\" encoding=\"ISO-8859-1\"?>",
      "<?xml version=\"1.0\" encoding=\"UTF-16\"?>", "<!-- generated -->\n"),
    3 -> Gen.oneOf("<?xml version=\"1.0\"?><!DOCTYPE feedback>",
      "<!DOCTYPE feedback [<!ENTITY org \"Entity Org\">]>",
      s"""<!DOCTYPE feedback [<!ENTITY file SYSTEM "${entityFile.toUri}">]>"""))

  private val epilogs = Gen.frequency(
    6 -> Gen.oneOf("", "\n", "<!-- end -->", "<?pi end?>"), 1 -> Gen.oneOf("trailing", "<feedback/>"))

  private val report: Gen[String] = for {
    prolog <- prologs
    root <- roots
    version <- field("version", Gen.oneOf("1.0", "2.0"))
    meta <- Gen.frequency(12 -> 1, 1 -> 0, 1 -> 2).flatMap(Gen.listOfN(_, metadata)).map(_.mkString)
    pol <- policy
    n <- Gen.frequency(1 -> 0, 4 -> 1, 2 -> 3)
    recs <- Gen.listOfN(n, record)
    d <- decoy
    entity <- Gen.frequency(18 -> "", 1 -> "&org;", 1 -> "&file;")
    sep <- ws
    epilog <- epilogs
  } yield (Seq(prolog, s"<${root._1}${root._2}>", version, meta, pol) ++ recs ++
    Seq(d, entity, s"</${root._1}>", epilog)).mkString(sep)

  /** A report, or one cut short, or nothing at all. */
  private val documents: Gen[String] = Gen.frequency(
    12 -> report,
    2 -> report.flatMap(r => Gen.chooseNum(0, r.length).map(r.take)),
    1 -> Gen.const(""))

  test("generated report XML: the streaming pass parses and validates as the DOM walk did") {
    val rights = new java.util.concurrent.atomic.AtomicInteger
    check(Prop.forAllNoShrink(documents) { doc =>
      val bytes = doc.getBytes(UTF_8)
      val parsed = AggregateXmlParser.parse(bytes)
      val expected = AggregateXmlDomOracle.parse(bytes)
      if (parsed.isRight) rights.incrementAndGet()
      val validated = ReportValidator.validateAggregate(bytes)
      Prop(sameOutcome(parsed, expected) && validated == AggregateXmlDomOracle.validate(bytes)) :|
        s"document: $doc\nstreaming: $parsed\nDOM: $expected\n" +
          s"validator: $validated\nDOM validator: ${AggregateXmlDomOracle.validate(bytes)}"
    }, tests = 1500)
    // the property would hold vacuously if almost every document failed
    assert(rights.get > 300, s"only ${rights.get} generated documents parsed")
  }

  test("the fixture corpus parses and validates as the DOM walk did") {
    val walk = Files.walk(Paths.get(DmarcFixtures.Root))
    val files = try walk.iterator.asScala.filter(Files.isRegularFile(_)).toList finally walk.close()
    val rights = files.count { f =>
      val bytes = Files.readAllBytes(f)
      val parsed = AggregateXmlParser.parseAny(bytes)
      assert(sameOutcome(parsed, AggregateXmlDomOracle.parseAny(bytes)), f)
      assert(ReportValidator.validateAggregate(bytes) == AggregateXmlDomOracle.validate(bytes), f)
      parsed.isRight
    }
    assert(rights >= 10, s"$rights of ${files.size} fixture files parsed")
  }

  private val minimal =
    """<feedback><report_metadata><org_name>acme</org_name><report_id>r1</report_id>
      |<date_range><begin>1538204542</begin><end>END</end></date_range></report_metadata>
      |<policy_published><domain>example.com</domain><p>none</p></policy_published>
      |</feedback>""".stripMargin

  test("the fixed Left messages stay as they were") {
    def parsed(end: String) = AggregateXmlParser.parse(minimal.replace("END", end).getBytes(UTF_8))
    assert(parsed("1538250000").isRight)
    assert(parsed("soon") == Left("invalid date_range"))
    assert(parsed("1538404542") == Left("time span > 24 hours - RFC 7489 section 7.2"))
    for (bad <- Seq("", "<feedback>", "<feedback/>junk", "<feedback><a></b></feedback>"))
      assert(AggregateXmlParser.parse(bad.getBytes(UTF_8)).left.exists(_.startsWith("invalid XML: ")), bad)
  }

  test("a DOCTYPE is refused before its entities or its external DTD are read") {
    val secret = Files.createTempFile("graft-xxe", ".txt")
    Files.writeString(secret, "secret file text")
    val server = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    server.setSoTimeout(200)
    try {
      val dtd = s"http://127.0.0.1:${server.getLocalPort}/feedback.dtd"
      val doc = minimal.replace("END", "1538250000")
        .replace("<feedback>", s"""<!DOCTYPE feedback SYSTEM "$dtd" [<!ENTITY xxe SYSTEM "${secret.toUri}">]>""" +
          """<feedback xmlns="http://dmarc.org/dmarc-xml/0.1">""")
        .replace("<org_name>acme", "<org_name>&xxe;")
      val parsed = AggregateXmlParser.parseAny(doc.getBytes(UTF_8))
      assert(parsed.left.exists(e => e.startsWith("invalid XML: DOCTYPE is disallowed")), parsed)
      val validated = ReportValidator.validateAggregate(doc.getBytes(UTF_8))
      assert(!validated.valid && validated.errors == Seq("Invalid XML format"))
      // a fetch of the external DTD would have connected during the parse
      assert(Try(server.accept()).isFailure, "the external DTD was fetched")
    } finally {
      server.close()
      Files.delete(secret)
    }
  }
}
