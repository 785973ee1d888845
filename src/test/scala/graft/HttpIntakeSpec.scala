package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import graft.sources.{DmarcReader, HttpConfig, HttpIntake, IngestMetrics}
import org.apache.spark.sql.functions._

/** The HTTP server twin (reference internal/http/server.go): report
  * upload with content-type validation, type detection, parse-or-400,
  * health, the service document, 405/413/429 middleware behavior, the
  * Prometheus text exposition with the reference's counter names, and
  * the summary endpoint. Uploads land in the drop directory the
  * streaming intake watches — asserted by parsing the directory with
  * the shared batch parser.
  */
class HttpIntakeSpec extends SparkSpec {

  private val Samples = DmarcFixtures.Root
  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(port: Int, path: String, body: Array[Byte], ct: String,
                   method: String = "POST"): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, HttpRequest.BodyPublishers.ofByteArray(body))
        .header("Content-Type", ct)
        .build(),
      HttpResponse.BodyHandlers.ofString())

  private def withServer[A](cfg: HttpConfig = HttpConfig())(
      f: (HttpIntake, Int, String) => A): A = {
    val drop = Files.createTempDirectory("graft-http-drop").toString
    val server = new HttpIntake(cfg, drop,
      summary = () => """{"doc":"summary"}""",
      extraMetrics = () => Seq("dmarc_reports_parsed_total" -> 3.0))
    try f(server, server.port, drop)
    finally server.close()
  }

  private def sample(rel: String): Array[Byte] =
    Files.readAllBytes(Paths.get(s"$Samples/$rel"))

  test("service document and health (handleRoot/handleHealth)") {
    withServer() { (_, port, _) =>
      val root = get(port, "/")
      assert(root.statusCode() == 200)
      assert(root.body().contains("\"dmarc_report\":\"/dmarc/report\""))
      assert(root.body().contains("\"metrics\":\"/metrics\""))
      val health = get(port, "/health")
      assert(health.statusCode() == 200)
      assert(health.body().contains("\"status\":\"healthy\""))
    }
  }

  test("aggregate XML upload: 200, lands in the streaming drop directory") {
    withServer() { (_, port, drop) =>
      val xml = sample("aggregate/example.net!example.com!1529366400!1529452799.xml")
      val r = post(port, "/dmarc/report", xml, "application/xml")
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains("processed successfully"))
      // the drop directory is the SAME intake the stream parses — batch
      // parser over it must see exactly this report
      val reports = DmarcReader.aggregateReports(spark, drop, "*").toDF().collect()
      assert(reports.length == 1)
      assert(reports.head.getAs[String]("domain") == "example.com")
    }
  }

  test("compressed and JSON report types parse through the same chain") {
    withServer() { (_, port, drop) =>
      val gz = sample("aggregate/mx.mailhost.example!example.com!1516060800!1516147199!102675056.xml.gz")
      assert(post(port, "/dmarc/report", gz, "application/gzip").statusCode() == 200)
      val tls = sample("smtp_tls/mail.sender.example!example.com!1538352000!1538438399!001.json")
      assert(post(port, "/dmarc/report", tls, "application/tlsrpt+json").statusCode() == 200)
      val names = new java.io.File(drop).list().toSeq
      assert(names.exists(_.startsWith("http-aggregate-")))
      assert(names.exists(_.startsWith("http-smtp_tls-")))
    }
  }

  test("upload rejections: empty, bad content type, unparseable, wrong method") {
    withServer() { (_, port, drop) =>
      assert(post(port, "/dmarc/report", Array.emptyByteArray, "application/xml").statusCode() == 400)
      assert(post(port, "/dmarc/report", "<feedback/>".getBytes, "text/html").statusCode() == 400)
      val bad = post(port, "/dmarc/report", "not a report".getBytes, "application/xml")
      assert(bad.statusCode() == 400)
      assert(bad.body().contains("Failed to parse"))
      assert(get(port, "/dmarc/report").statusCode() == 405)
      // the read-only routes are GET-only: POST/PUT answer 405, not 200
      for (p <- Seq("/health", "/metrics", "/summary", "/"))
        assert(post(port, p, "x".getBytes, "application/xml").statusCode() == 405, p)
      assert(new java.io.File(drop).list().isEmpty, "rejected uploads must not land")
    }
  }

  test("body-size cap answers 413 (maxSizeMiddleware)") {
    withServer(HttpConfig(maxBodyBytes = 1024)) { (_, port, _) =>
      val big = Array.fill[Byte](4096)('x')
      assert(post(port, "/dmarc/report", big, "application/xml").statusCode() == 413)
    }
  }

  test("per-IP token bucket answers 429 once the burst is spent") {
    withServer(HttpConfig(ratePerMinute = 1, rateBurst = 3)) { (_, port, _) =>
      val codes = (1 to 5).map(_ => get(port, "/health").statusCode())
      assert(codes.take(3).forall(_ == 200))
      assert(codes.drop(3).contains(429))
    }
  }

  test("metrics exposition carries the reference counter names and live gauges") {
    withServer() { (_, port, _) =>
      val xml = sample("aggregate/example.net!example.com!1529366400!1529452799.xml")
      post(port, "/dmarc/report", xml, "application/xml")
      post(port, "/dmarc/report", "<feedback>broken".getBytes, "application/xml")
      get(port, "/health")
      val m = get(port, "/metrics")
      assert(m.statusCode() == 200)
      val text = m.body()
      assert(text.contains("# TYPE parsedmarc_http_requests_total counter"))
      assert(text.contains(
        """parsedmarc_reports_processed_total{type="aggregate"} 1"""))
      assert(text.contains(
        """parsedmarc_reports_failed_total{type="aggregate",reason="parse_failed"} 1"""))
      assert(text.contains(
        """parsedmarc_http_requests_total{method="GET",endpoint="health",status="200"} 1"""))
      // IngestMetrics-computed gauge scraped through the same endpoint
      assert(text.contains("dmarc_reports_parsed_total 3.0"))
      // exposition is parseable: every non-comment line is "name{...} value"
      text.linesIterator.filterNot(l => l.startsWith("#") || l.isEmpty).foreach { l =>
        assert(l.matches("""[a-z_]+(\{[^}]*\})? [-0-9.eE]+"""), s"bad exposition line: $l")
      }
    }
  }

  test("summary endpoint serves the analytics document") {
    withServer() { (_, port, _) =>
      val r = get(port, "/summary")
      assert(r.statusCode() == 200)
      assert(r.body() == """{"doc":"summary"}""")
    }
  }

  test("end to end: upload feeds the summary pipeline (IngestMetrics names)") {
    // wire the REAL providers: summary + gauges computed from the drop
    // directory the uploads land in
    val drop = Files.createTempDirectory("graft-http-e2e").toString
    val server = new HttpIntake(HttpConfig(), drop,
      summary = () => {
        val n = DmarcReader.aggregateReports(spark, drop, "*").toDF().count()
        s"""{"reports":$n}"""
      },
      extraMetrics = () =>
        IngestMetrics.aggregateSummary(spark, drop, "*").collect().toSeq
          .map(r => r.getString(0) -> r.getDouble(1)))
    try {
      val port = server.port
      assert(get(port, "/summary").body() == """{"reports":0}""")
      val xml = sample("aggregate/mail.sports-league.example!example.com!1538784000!1538870399.xml")
      assert(post(port, "/dmarc/report", xml, "application/xml").statusCode() == 200)
      assert(get(port, "/summary").body() == """{"reports":1}""")
      val metrics = get(port, "/metrics").body()
      assert(metrics.contains("dmarc_reports_parsed_total 1.0"))
      assert(metrics.contains("dmarc_records_total 2.0"))
    } finally server.close()
  }
}
