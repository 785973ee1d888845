package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import graft.GraftCli._
import graft.sources.{GraftConfig, HttpSettings, ImapSettings, InMemoryImap, ImapIntake, ReportJson}
import org.scalatest.funsuite.AnyFunSuite

/** The CLI entry point (cmd/parsedmarc-go/main.go) and its output
  * bytes (internal/output/output.go): Go flag grammar, the
  * aggregate→forensic→smtp_tls parse chain, stream/file/directory
  * sinks with MarshalIndent-faithful JSON and encoding/csv-faithful
  * CSV, reference directory filenames, and daemon-mode wiring (HTTP
  * intake + IMAP poll loop) against in-process servers.
  */
class GraftCliSpec extends AnyFunSuite {

  private val Samples = DmarcFixtures.Root

  private def runCli(args: String*): (Int, String, String) = {
    val out = new ByteArrayOutputStream()
    val err = new ByteArrayOutputStream()
    val rc = GraftCli.run(args.toArray, new PrintStream(out, true, "UTF-8"),
      new PrintStream(err, true, "UTF-8"))
    (rc, out.toString("UTF-8"), err.toString("UTF-8"))
  }

  // ------------------------------------------------------------ flags
  test("flag grammar: -f v, -f=v, --f, bool flags, operand stop") {
    assert(parseFlags(Seq("-input", "x.xml", "-format=csv", "--daemon"))
      == Right(CliOptions(input = "x.xml", format = "csv", daemon = true)))
    assert(parseFlags(Seq("-version")) == Right(CliOptions(version = true)))
    assert(parseFlags(Seq("-daemon=false")) == Right(CliOptions()))
    // first non-flag operand terminates parsing (Go flag semantics)
    assert(parseFlags(Seq("positional", "-input", "x")) == Right(CliOptions()))
    assert(parseFlags(Seq("-input")).isLeft)
    assert(parseFlags(Seq("-bogus", "v")).swap.exists(_.contains("not defined")))
    assert(parseFlags(Seq("-daemon=maybe")).isLeft)
  }

  test("unknown flag exits 2 with usage; -version prints and exits 0") {
    val (rc, _, err) = runCli("-bogus")
    assert(rc == 2)
    assert(err.contains("flag provided but not defined"))
    assert(err.contains("Usage of graft"))
    val (rc2, out2, _) = runCli("-version")
    assert(rc2 == 0)
    assert(out2.trim == s"graft version ${GraftCli.Version}")
  }

  test("invalid -format exits 1; missing input file exits 1") {
    val sample = s"$Samples/aggregate/empty_reason.xml"
    val (rc, _, err) = runCli("-input", sample, "-format", "xml")
    assert(rc == 1)
    assert(err.contains("Invalid output format"))
    val (rc2, _, err2) = runCli("-input", "/nonexistent/file.xml")
    assert(rc2 == 1)
    assert(err2.contains("failed to stat input"))
  }

  test("no input and no daemon: the reference's hint text, exit 0") {
    val (rc, out, _) = runCli("-config", "/nonexistent/config.yaml")
    assert(rc == 0)
    assert(out.contains("No input file specified and daemon mode disabled"))
    assert(out.contains("-daemon flag for continuous processing"))
  }

  // ------------------------------------------------- Go byte fidelity
  test("goQuote: Go encoding/json escaping incl. HTML-safe escapes") {
    assert(ReportJson.goQuote("a<b>&c") == "\"a\\u003cb\\u003e\\u0026c\"")
    assert(ReportJson.goQuote("q\"w\\e") == "\"q\\\"w\\\\e\"")
    assert(ReportJson.goQuote("l1\nl2\r\tx") == "\"l1\\nl2\\r\\tx\"")
    assert(ReportJson.goQuote("\u0001") == "\"\\u0001\"")
    assert(ReportJson.goQuote("\u2028\u2029") == "\"\\u2028\\u2029\"")
    assert(ReportJson.goQuote("ü†") == "\"ü†\"") // non-ASCII passes through
    assert(ReportJson.goQuote("\ud800") == "\"\ufffd\"") // unpaired surrogate
  }

  test("goTime: RFC3339Nano — seconds, trimmed fraction, Z") {
    val t = java.sql.Timestamp.valueOf("2024-01-25 05:12:24")
    assert(ReportJson.goTime(t) == "2024-01-25T05:12:24Z")
    val withNanos = new java.sql.Timestamp(t.getTime)
    withNanos.setNanos(123400000)
    assert(ReportJson.goTime(withNanos) == "2024-01-25T05:12:24.1234Z")
  }

  test("csvLine: encoding/csv quoting — comma, quote, leading space, CRLF") {
    // UseCRLF=false keeps \r\n VERBATIM inside the quoted field
    // (writer.go's \r-dropping branch is UseCRLF=true only)
    assert(ReportJson.csvLine(Seq("a", "b,c", "d\"e", " f", "g\r\nh"))
      == "a,\"b,c\",\"d\"\"e\",\" f\",\"g\r\nh\"\n")
    assert(ReportJson.csvLine(Seq("plain", "")) == "plain,\n")
    // leading-space rule follows Go's unicode.IsSpace, not Java's:
    // NBSP quotes, the U+001C control char does not
    assert(ReportJson.csvLine(Seq("\u00A0x")) == "\"\u00A0x\"\n")
    assert(ReportJson.csvLine(Seq("\u001Cx")) == "\u001Cx\n")
  }

  test("-h / -help: Go flag's ErrHelp — usage to stderr, exit 0") {
    val (rc, _, err) = runCli("-h")
    assert(rc == 0)
    assert(err.contains("Usage of graft"))
    assert(!err.contains("not defined"))
    assert(runCli("--help")._1 == 0)
  }

  test("render: MarshalIndent layout — two-space, ': ', inline empties") {
    import ReportJson._
    val doc = render(JObj(Seq(
      "a" -> JInt(1), "b" -> JObj(Nil), "c" -> JArr(Seq(JStr("x"))))))
    assert(doc ==
      "{\n  \"a\": 1,\n  \"b\": {},\n  \"c\": [\n    \"x\"\n  ]\n}")
  }

  // ------------------------------------------------------ stream JSON
  test("single file JSON to stdout: the exact MarshalIndent document") {
    val (rc, out, _) =
      runCli("-input", s"$Samples/aggregate/mail.receiver.example!example.com!1536192000!1536278399.xml")
    assert(rc == 0)
    assert(out.startsWith("{\n  \"xml_schema\": \"1.0\",\n  \"report_metadata\": {\n"))
    assert(out.contains("\"report_id\": \"2018.09.06.1\""))
    assert(out.contains("\"begin_date\": \"2018-09-06T00:00:00Z\""))
    assert(out.contains("\"errors\": null"))          // Go nil slice
    assert(out.contains("\"policy_override_reasons\": null"))
    assert(out.endsWith("}\n"))                        // doc + trailing newline
    // the document is valid JSON with types.go's field order
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(out)
    val topFields = {
      val it = node.fieldNames(); val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result()
    }
    assert(topFields == Seq("xml_schema", "report_metadata", "policy_published", "records"))
    assert(node.get("records").get(0).get("auth_results").get("dkim").isNull)
  }

  test("TLS JSON honors omitempty: policy_strings kept, empties dropped") {
    val (rc, out, _) = runCli("-input", s"$Samples/smtp_tls/rfc8460.json")
    assert(rc == 0)
    assert(out.contains("\"policy_strings\": ["))
    assert(out.contains("\"failure_reason_code\": \"X509_V_ERR_PROXY_PATH_LENGTH_EXCEEDED\""))
    // first failure detail has no receiving_ip → field absent, not null
    val firstDetail = out.substring(out.indexOf("\"result_type\": \"certificate-expired\""))
      .takeWhile(_ != '}')
    assert(!firstDetail.contains("receiving_ip"))
    assert(!out.contains("\"mx_host_patterns\""))
  }

  // ------------------------------------------------------- stream CSV
  test("directory CSV stream: per-family headers once, continue past bad files") {
    val err = new ByteArrayOutputStream()
    val outBuf = new java.lang.StringBuilder
    val sink = new StreamCsvSink(outBuf)
    val (ok, failed) = processInput(Paths.get(s"$Samples/smtp_tls"), sink,
      new PrintStream(err, true, "UTF-8"))
    sink.close()
    val lines = outBuf.toString().split("\n").toSeq
    assert(ok >= 3 && failed == 0)
    assert(lines.count(_.startsWith("organization_name,begin_date")) == 1)
    assert(lines.exists(_.startsWith("Company-X,2016-04-01T00:00:00Z,2016-04-01T23:59:59Z")))
  }

  test("whole sample corpus: mixed families, invalid files warn and continue") {
    val err = new ByteArrayOutputStream()
    val outBuf = new java.lang.StringBuilder
    val sink = new StreamJsonSink(outBuf)
    val (ok, failed) = processInput(Paths.get(s"$Samples/aggregate_invalid"), sink,
      new PrintStream(err, true, "UTF-8"))
    assert(failed > 0)
    assert(err.toString("UTF-8").contains("warn: failed to process file"))
    assert(err.toString("UTF-8").contains("unable to parse data as any supported report type"))
  }

  test("an unparseable file warns with the CLI prefix and every family's error") {
    val dir = Files.createTempDirectory("cli-junk")
    val junk = Files.write(dir.resolve("junk.bin"), "not a report".getBytes("UTF-8"))
    val err = new ByteArrayOutputStream()
    try {
      val (ok, failed) = processInput(dir, new StreamJsonSink(new java.lang.StringBuilder),
        new PrintStream(err, true, "UTF-8"))
      assert(ok == 0 && failed == 1)
      assert(err.toString("UTF-8").contains(
        "unable to parse data as any supported report type. Details: aggregate: "))
    } finally { Files.delete(junk); Files.delete(dir) }
  }

  // ------------------------------------------------------ file append
  test("append-file sink: two runs append like the reference's O_APPEND") {
    val f = Files.createTempFile("cli-out", ".json")
    Files.delete(f) // newSink must create it
    val sample = s"$Samples/aggregate/empty_reason.xml"
    assert(runCli("-input", sample, "-output", f.toString)._1 == 0)
    val once = Files.readAllBytes(f).length
    assert(runCli("-input", sample, "-output", f.toString)._1 == 0)
    assert(Files.readAllBytes(f).length == 2 * once)
    Files.delete(f)
  }

  // --------------------------------------------------- directory mode
  test("directory sink: reference filenames per family") {
    val dir = Files.createTempDirectory("cli-dir")
    val (rc, out, _) = runCli("-input", s"$Samples/smtp_tls/rfc8460.json",
      "-output", dir.toString, "-format", "json")
    assert(rc == 0)
    assert(out.isEmpty) // directory mode writes files, not stdout
    val names = Files.list(dir).map[String](_.getFileName.toString)
      .toArray.toSeq.map(_.toString)
    assert(names ==
      Seq("smtp_tls_20160401_000000_5065427c-23d3-47ca-b6e0-946ea0e8c4be.json"))
    val doc = new String(Files.readAllBytes(dir.resolve(names.head)), "UTF-8")
    assert(doc.startsWith("{\n  \"organization_name\": \"Company-X\""))
    // forensic filenames hash the message id (output.go:877-881)
    assert(ReportJson.forensicFileId("mid@example.com").matches("[0-9a-f]{16}"))
    names.foreach(n => Files.delete(dir.resolve(n)))
    Files.delete(dir)
  }

  // --------------------------------------------------------- daemon
  test("daemon: IMAP poll drops mail into the intake dir; HTTP serves; stop() is clean") {
    val seed = {
      val f = Paths.get(s"$Samples/aggregate/empty_reason.xml")
      Seq(ImapIntake.wrapReportEmail("empty_reason.xml", Files.readAllBytes(f)))
    }
    // ImapSettings.tls defaults true, so the daemon dials IMAPS — seed the
    // server to match (the reference's default deployment posture).
    val imap = new InMemoryImap("dmarc", "secret", seed,
      security = graft.sources.ImapSecurity.Imaps)
    val dropDir = Files.createTempDirectory("cli-daemon").toString
    try {
      val cfg = GraftConfig(
        imap = ImapSettings(enabled = true, host = "127.0.0.1", port = imap.port,
          username = "dmarc", password = "secret", checkIntervalSec = 1),
        http = HttpSettings(enabled = true, port = 0))
      val daemon = startDaemon(cfg, dropDir)
      try {
        val deadline = System.nanoTime() + 10e9.toLong
        while (daemon.pollCount < 1 && System.nanoTime() < deadline) Thread.sleep(50)
        assert(daemon.pollCount >= 1)
        assert(Files.list(Paths.get(dropDir)).count() == 1)
        assert(imap.archivedCount == 1) // reference pull loop archives processed mail
        // HTTP twin is live on its ephemeral port
        val port = daemon.httpPort.get
        val health = new String(
          new java.net.URI(s"http://127.0.0.1:$port/health").toURL.openStream().readAllBytes(),
          "UTF-8")
        assert(health.contains("healthy") || health.contains("ok"))
      } finally daemon.stop()
      // stopped daemon: port closed
      intercept[Exception] {
        new java.net.URI(s"http://127.0.0.1:${daemon.httpPort.get}/health")
          .toURL.openStream()
      }
    } finally imap.close()
  }

  // ---------------------------------------------------- side senders
  test("Kafka sender: compact json.Marshal bytes on the wire, reference keys") {
    val broker = new graft.sources.InMemoryKafka()
    val dir = Files.createTempDirectory("cli-kafka")
    val cfgFile = dir.resolve("config.yaml")
    try {
      Files.writeString(cfgFile,
        s"""kafka:
           |  enabled: true
           |  hosts:
           |    - 127.0.0.1:${broker.port}
           |  aggregate_topic: dmarc_aggregate
           |""".stripMargin)
      val sample = s"$Samples/aggregate/mail.receiver.example!example.com!1536192000!1536278399.xml"
      val (rc, out, _) = runCli("-config", cfgFile.toString, "-input", sample)
      assert(rc == 0)
      val recs = graft.sources.KafkaWire.fetch("127.0.0.1", broker.port, "dmarc_aggregate", 0L)
      assert(recs.size == 1)
      assert(new String(recs.head.key, "UTF-8") == "2018.09.06.1")
      val value = new String(recs.head.value, "UTF-8")
      // the wire payload is the compact form of the SAME document the
      // stdout writer pretty-printed: Jackson-normalized they are equal
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      assert(mapper.readTree(value) == mapper.readTree(out))
      assert(!value.contains("\n") && value.startsWith("{\"xml_schema\":"))
    } finally { broker.close(); Files.delete(cfgFile); Files.delete(dir) }
  }

  test("Kafka sender: empty topic skips the family, like kafka.go") {
    val broker = new graft.sources.InMemoryKafka()
    try {
      val settings = graft.sources.KafkaSettings(enabled = true,
        hosts = Seq(s"127.0.0.1:${broker.port}"), aggregateTopic = "")
      val sender = new KafkaReportSender(settings)
      val bytes = Files.readAllBytes(Paths.get(s"$Samples/aggregate/empty_reason.xml"))
      sender.send(graft.sources.ReportParser.parse(bytes).toOption.get)
      sender.close()
      // nothing produced: the broker never saw the topic at all
      val e = intercept[java.io.IOException] {
        graft.sources.KafkaWire.fetch("127.0.0.1", broker.port, "dmarc_aggregate", 0L)
      }
      assert(e.getMessage.contains("error code 3")) // UNKNOWN_TOPIC_OR_PARTITION
    } finally broker.close()
  }

  test("SMTP sender: reports flush through the pinned MIME path to a live relay") {
    val smtp = new FakeSmtp(requireAuth = false)
    val dir = Files.createTempDirectory("cli-smtp")
    val cfgFile = dir.resolve("config.yaml")
    try {
      Files.writeString(cfgFile,
        s"""smtp:
           |  enabled: true
           |  host: 127.0.0.1
           |  port: ${smtp.port}
           |  from: dmarc@example.com
           |  to:
           |    - admin@example.com
           |""".stripMargin)
      val sample = s"$Samples/aggregate/empty_reason.xml"
      val (rc, _, _) = runCli("-config", cfgFile.toString, "-input", sample)
      assert(rc == 0)
      val deadline = System.nanoTime() + 10e9.toLong
      while (smtp.messages().isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val msgs = smtp.messages()
      assert(msgs.size == 1)
      assert(msgs.head.from == "dmarc@example.com")
      assert(msgs.head.rcpt == Seq("admin@example.com"))
      // config.go:230 defaults smtp.subject to "parsedmarc report";
      // the per-report default subject applies only when cleared
      assert(msgs.head.body.contains("Subject: parsedmarc report"))
      assert(msgs.head.body.contains("Content-Disposition: attachment; filename=dmarc-aggregate.json"))
    } finally { smtp.close(); Files.delete(cfgFile); Files.delete(dir) }
  }

  test("renderCompact: Go json.Marshal layout — no whitespace, same escaping") {
    import ReportJson._
    assert(renderCompact(JObj(Seq("a" -> JInt(1), "b" -> JArr(Seq(JStr("<x>"), JNull)))))
      == "{\"a\":1,\"b\":[\"\\u003cx\\u003e\",null]}")
    assert(renderCompact(JObj(Nil)) == "{}")
  }

  test("daemon via run(): config file path, non-blocking handle") {
    val dir = Files.createTempDirectory("cli-cfg")
    val cfgFile = dir.resolve("config.yaml")
    Files.writeString(cfgFile, "http:\n  enabled: true\n  port: 0\n")
    var handle: Option[Daemon] = None
    val rc = GraftCli.run(Array("-config", cfgFile.toString, "-daemon"),
      new PrintStream(new ByteArrayOutputStream()), new PrintStream(new ByteArrayOutputStream()),
      block = false, onDaemon = d => handle = Some(d))
    assert(rc == 0)
    assert(handle.nonEmpty)
    assert(handle.get.httpPort.nonEmpty)
    handle.get.stop()
    Files.delete(cfgFile); Files.delete(dir)
  }
}
