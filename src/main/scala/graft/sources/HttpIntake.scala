package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer, HttpsConfigurator, HttpsServer}

/** HTTP server settings (reference config.HTTPConfig fields the server
  * reads: port, body-size cap, per-IP rate limit). `tls` serves the
  * route surface over HTTPS with the in-process self-signed identity
  * ([[TlsSupport]]) — the TLS termination the reference deploys in
  * front of its gin server, folded into the twin.
  */
final case class HttpConfig(
    port: Int = 0,
    maxBodyBytes: Int = 10 << 20,
    ratePerMinute: Int = 600,
    rateBurst: Int = 100,
    tls: Boolean = false,
    certFile: String = "",
    keyFile: String = "")

/** HTTP intake twin of the reference server (internal/http/server.go):
  * the same route surface — POST/PUT /dmarc/report (RFC 7489 upload,
  * content-type validation, type detection, parse), GET /health, GET
  * /metrics (Prometheus text exposition, the reference's counter
  * names), GET / (service document), 405 on wrong methods — plus GET
  * /summary serving the DmarcAnalytics summary document as the query
  * surface.
  *
  * Built on the JDK's com.sun.net.httpserver — no framework, offline.
  * Accepted reports are VALIDATED by the same executor-grade parsers
  * every other intake path uses, then dropped into `dropDir` — the
  * directory st_report_intake's Structured Streaming loop watches — so
  * the HTTP pipeline composes with the streaming one instead of
  * duplicating it: upload → drop → stream-parse → table is the
  * reference's report flow re-expressed on Spark's sources.
  *
  * In scope from the reference middleware stack: body-size cap (413),
  * per-IP token-bucket rate limit (429), request metrics, and TLS
  * termination (`HttpConfig.tls` — HttpsServer over the pinned
  * self-signed identity). Out of scope offline: gin's
  * logging/recovery formatting.
  */
final class HttpIntake(cfg: HttpConfig, dropDir: String,
                       summary: () => String = () => "{}",
                       extraMetrics: () => Seq[(String, Double)] = () => Seq.empty)
    extends AutoCloseable {

  Files.createDirectories(Paths.get(dropDir))

  // ---- metrics (reference metrics names, server.go:48-76) ----
  private val counters = new ConcurrentHashMap[String, AtomicLong]()
  private def inc(key: String): Unit =
    counters.computeIfAbsent(key, _ => new AtomicLong()).incrementAndGet()
  private def requestMetric(method: String, endpoint: String, status: Int): Unit =
    inc(s"""parsedmarc_http_requests_total{method="$method",endpoint="$endpoint",status="$status"}""")
  private def processedMetric(tpe: String): Unit =
    inc(s"""parsedmarc_reports_processed_total{type="$tpe"}""")
  private def failedMetric(tpe: String, reason: String): Unit =
    inc(s"""parsedmarc_reports_failed_total{type="$tpe",reason="$reason"}""")

  // ---- per-IP token bucket (server.go:239-261, rate/60 per second) ----
  private final class Bucket(var tokens: Double, var last: Long)
  private val buckets = new ConcurrentHashMap[String, Bucket]()
  private def allow(ip: String): Boolean = {
    val b = buckets.computeIfAbsent(ip, _ => new Bucket(cfg.rateBurst.toDouble, System.nanoTime()))
    b.synchronized {
      val now = System.nanoTime()
      val refill = (now - b.last) / 1e9 * (cfg.ratePerMinute / 60.0)
      b.tokens = math.min(cfg.rateBurst.toDouble, b.tokens + refill)
      b.last = now
      if (b.tokens >= 1.0) { b.tokens -= 1.0; true } else false
    }
  }

  private def endpointLabel(path: String): String =
    if (path.startsWith("/dmarc/report")) "dmarc_report"
    else if (path.startsWith("/health")) "health"
    else if (path.startsWith("/metrics")) "metrics"
    else if (path.startsWith("/summary")) "summary"
    else if (path == "/") "root"
    else "other"

  private val ValidContentTypes = Seq(
    "application/xml", "text/xml", "application/json", "application/zip",
    "application/gzip", "application/octet-stream", "application/tlsrpt+json",
    "application/tlsrpt+gzip", "multipart/form-data")

  /** Report-type detection (server.go:detectReportType, byte-faithful:
    * tlsrpt content type first, then the first 1 KiB of the body).
    */
  def detectReportType(body: Array[Byte], contentType: String): String = {
    val ct = contentType.toLowerCase
    if (ct.contains("tlsrpt")) "smtp_tls"
    else {
      val head = new String(body, 0, math.min(body.length, 1024), UTF_8).toLowerCase
      if (head.contains("feedback-type:")) "forensic"
      else if (head.contains("<feedback") || head.contains("<report_metadata")) "aggregate"
      else if (head.contains("organization-name")) "smtp_tls"
      else "unknown"
    }
  }

  private def sha(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).take(12).map("%02x".format(_)).mkString

  private val server: HttpServer =
    if (cfg.tls) {
      // cert_file/key_file configured -> serve the PEM identity (the
      // reference's deployment shape); both-or-neither, misconfiguring
      // one alone fails at startup
      require(cfg.certFile.isEmpty == cfg.keyFile.isEmpty,
        "http.cert_file and http.key_file must be set together")
      val ctx =
        if (cfg.certFile.nonEmpty) TlsSupport.serverContextFromPem(cfg.certFile, cfg.keyFile)
        else TlsSupport.serverContext
      val s = HttpsServer.create(new InetSocketAddress("127.0.0.1", cfg.port), 16)
      s.setHttpsConfigurator(new HttpsConfigurator(ctx))
      s
    } else HttpServer.create(new InetSocketAddress("127.0.0.1", cfg.port), 16)
  def port: Int = server.getAddress.getPort

  private def respond(x: HttpExchange, status: Int, body: String,
                      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(UTF_8)
    x.getResponseHeaders.set("Content-Type", contentType)
    x.sendResponseHeaders(status, bytes.length.toLong)
    x.getResponseBody.write(bytes)
    x.close()
    requestMetric(x.getRequestMethod, endpointLabel(x.getRequestURI.getPath), status)
  }

  private def jsonError(msg: String): String = s"""{"error":"$msg"}"""

  private def handleReport(x: HttpExchange): Unit = {
    val method = x.getRequestMethod
    if (method != "POST" && method != "PUT") {
      respond(x, 405, jsonError("Method not allowed")); return
    }
    val ct = Option(x.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    // cap the read at maxBodyBytes + 1: one extra byte distinguishes
    // at-limit from over-limit without buffering an unbounded body
    val body = x.getRequestBody.readNBytes(cfg.maxBodyBytes + 1)
    if (body.length > cfg.maxBodyBytes) {
      failedMetric("unknown", "body_too_large")
      respond(x, 413, jsonError("Request entity too large")); return
    }
    if (body.isEmpty) {
      failedMetric("unknown", "empty_body")
      respond(x, 400, jsonError("Empty request body")); return
    }
    if (!ValidContentTypes.exists(v => ct.toLowerCase.contains(v))) {
      failedMetric("unknown", "invalid_content_type")
      respond(x, 400, jsonError("Invalid content type. Expected XML, JSON, or multipart/form-data"))
      return
    }
    val tpe = detectReportType(body, ct)
    ReportParser.parse(body).map(_.family) match {
      case Left(err) =>
        failedMetric(tpe, "parse_failed")
        respond(x, 400, s"""{"error":"Failed to parse DMARC report","details":"${err.replace("\"", "'").take(200)}"}""")
      case Right(parsedType) =>
        // land the validated payload in the streaming intake's drop
        // directory — downstream parse/flatten/store is the SAME
        // checkpointed stream the mailbox path feeds
        Files.write(Paths.get(dropDir, s"http-$parsedType-${sha(body)}.report"), body)
        processedMetric(parsedType)
        respond(x, 200, """{"message":"DMARC report processed successfully"}""")
    }
  }

  private def metricsText(): String = {
    val sb = new StringBuilder
    def family(name: String, help: String, tpe: String): Unit = {
      val mine = new java.util.TreeMap[String, Long]()
      counters.forEach((k, v) => if (k.startsWith(name)) { mine.put(k, v.get()); () })
      if (!mine.isEmpty) {
        sb.append(s"# HELP $name $help\n# TYPE $name $tpe\n")
        mine.forEach((k, v) => { sb.append(s"$k $v\n"); () })
      }
    }
    family("parsedmarc_http_requests_total", "Total number of HTTP requests", "counter")
    family("parsedmarc_reports_processed_total",
      "Total number of DMARC reports processed successfully", "counter")
    family("parsedmarc_reports_failed_total",
      "Total number of DMARC reports that failed processing", "counter")
    // batch-computed ingest gauges (IngestMetrics rows) and streaming
    // progress gauges (StreamingObservability), scraped live. TYPE
    // lines carry the FAMILY name (labels stripped), once per family —
    // the exposition format rejects a labeled name after # TYPE.
    val seenFamily = scala.collection.mutable.Set[String]()
    extraMetrics().foreach { case (name, value) =>
      val fam = name.takeWhile(_ != '{')
      if (seenFamily.add(fam)) sb.append(s"# TYPE $fam gauge\n")
      sb.append(s"$name $value\n")
    }
    sb.toString
  }

  server.createContext("/", (x: HttpExchange) => {
    val path = x.getRequestURI.getPath
    try {
      val ip = x.getRemoteAddress.getAddress.getHostAddress
      if (!allow(ip)) respond(x, 429, jsonError("Rate limit exceeded"))
      else path match {
        case "/" if x.getRequestMethod == "GET" =>
          respond(x, 200,
            """{"service":"graft-dmarc","version":"1.0.0","endpoints":{""" +
              """"health":"/health","dmarc_report":"/dmarc/report",""" +
              """"metrics":"/metrics","summary":"/summary"}}""")
        // the read-only routes are GET-only — any other method is 405,
        // the documented middleware surface (a POST /health answering
        // 200 would mask a misrouted upload)
        case "/health" | "/metrics" | "/summary" | "/" if x.getRequestMethod != "GET" =>
          respond(x, 405, jsonError("Method not allowed"))
        case "/health" =>
          val ts = DateTimeFormatter.ISO_INSTANT.format(Instant.now().atOffset(ZoneOffset.UTC))
          respond(x, 200, s"""{"status":"healthy","timestamp":"$ts"}""")
        case "/metrics" =>
          respond(x, 200, metricsText(), "text/plain; version=0.0.4; charset=utf-8")
        case "/summary" =>
          respond(x, 200, summary())
        case p if p.startsWith("/dmarc/report") =>
          handleReport(x)
        case _ =>
          respond(x, 404, jsonError("not found"))
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        // recovery middleware: a handler crash answers 500, never kills
        // the server (server.go:221-237)
        try respond(x, 500, jsonError("internal error")) catch { case _: Throwable => () }
        locally(e)
    }
  })
  server.setExecutor(null) // current-thread dispatch; tests drive serially
  server.start()

  override def close(): Unit = server.stop(0)
}
