package graft.sources

import java.sql.Timestamp
import scala.util.Try
import scala.xml.{Elem, XML}

/** Aggregate (RFC 7489) XML report parser. Semantics mirror
  * /root/reference/internal/parser/parser.go:1059-1270 — feedback-element
  * extraction, field defaults (adkim/aspf "r", sp:=p, pct "100", fo "0",
  * policy dkim/spf "fail"), alignment = evaluated pass, lowercase
  * identifiers, 48h date-range guard — re-expressed on scala-xml.
  * Runs offline: source enrichment uses the reference's offline path
  * (country/type "Unknown", parser.go:1272-1301).
  */
object AggregateXmlParser {

  private def default(v: String, d: String): String = if (v.isEmpty) d else v

  def offlineSource(ip: String): SourceInfo =
    SourceInfo(ip, "Unknown", "", "", "", "Unknown")

  private def epoch(s: String): Option[Timestamp] =
    Try(new Timestamp(s.trim.toLong * 1000L)).toOption

  def parse(data: Array[Byte]): Either[String, AggregateReport] =
    Extract.decompressed(data).flatMap(b => parseXml(Extract.utf8(b)))

  private def parseXml(raw: String): Either[String, AggregateReport] = {
    val start = raw.indexOf("<feedback>")
    val end = raw.lastIndexOf("</feedback>")
    val xmlStr =
      if (start >= 0 && end > start) raw.substring(start, end + "</feedback>".length)
      else raw
    val parsed = Try(XML.loadString(xmlStr)).toEither.left
      .map(e => s"invalid XML: ${e.getMessage}")
    parsed.flatMap(fromXml)
  }

  private def fromXml(root: Elem): Either[String, AggregateReport] = {
    val meta = root \ "report_metadata"
    val pol = root \ "policy_published"
    def txt(n: scala.xml.NodeSeq): String = n.text.trim

    val beginOpt = epoch(txt(meta \ "date_range" \ "begin"))
    val endOpt = epoch(txt(meta \ "date_range" \ "end"))
    (beginOpt, endOpt) match {
      case (Some(begin), Some(endD)) =>
        // RFC 7489 §7.2: reject implausibly wide ranges (reference: 48h)
        if (endD.getTime - begin.getTime > 48L * 3600 * 1000)
          Left("time span > 24 hours - RFC 7489 section 7.2")
        else {
          val p = txt(pol \ "p")
          val extra = txt(meta \ "extra_contact_info")
          val records = (root \ "record").map { rec =>
            val row = rec \ "row"
            val pe = row \ "policy_evaluated"
            val ids = rec \ "identifiers"
            val dkimEval = default(txt(pe \ "dkim"), "fail")
            val spfEval = default(txt(pe \ "spf"), "fail")
            val spfAligned = spfEval.toLowerCase == "pass"
            val dkimAligned = dkimEval.toLowerCase == "pass"
            AggregateRecord(
              source = offlineSource(txt(row \ "source_ip")),
              count = Try(txt(row \ "count").toInt).getOrElse(0),
              spfAligned = spfAligned,
              dkimAligned = dkimAligned,
              dmarcAligned = spfAligned || dkimAligned,
              disposition = txt(pe \ "disposition"),
              policyEvalDkim = dkimEval,
              policyEvalSpf = spfEval,
              overrides = (pe \ "reason").map { r =>
                PolicyOverride(
                  Option(txt(r \ "type")).filter(_.nonEmpty),
                  Option(txt(r \ "comment")).filter(_.nonEmpty))
              },
              headerFrom = txt(ids \ "header_from").toLowerCase,
              envelopeFrom = Option(txt(ids \ "envelope_from")).filter(_.nonEmpty).map(_.toLowerCase),
              envelopeTo = Option(txt(ids \ "envelope_to")).filter(_.nonEmpty).map(_.toLowerCase),
              dkim = (rec \ "auth_results" \ "dkim")
                .filter(d => txt(d \ "domain").nonEmpty)
                .map(d => DkimAuth(txt(d \ "domain"),
                  default(txt(d \ "selector"), "none"), default(txt(d \ "result"), "none"))),
              spf = (rec \ "auth_results" \ "spf")
                .filter(s => txt(s \ "domain").nonEmpty)
                .map(s => SpfAuth(txt(s \ "domain"),
                  default(txt(s \ "scope"), "mfrom"), default(txt(s \ "result"), "none"))),
            )
          }
          Right(AggregateReport(
            xmlSchema = txt(root \ "version"),
            orgName = txt(meta \ "org_name"),
            orgEmail = txt(meta \ "email"),
            orgExtraContactInfo = Option(extra).filter(_.nonEmpty),
            reportId = txt(meta \ "report_id"),
            beginDate = begin,
            endDate = endD,
            errors = (meta \ "error").map(_.text.trim),
            domain = txt(pol \ "domain"),
            adkim = default(txt(pol \ "adkim"), "r"),
            aspf = default(txt(pol \ "aspf"), "r"),
            p = p,
            sp = default(txt(pol \ "sp"), p),
            pct = default(txt(pol \ "pct"), "100"),
            fo = default(txt(pol \ "fo"), "0"),
            records = records,
          ))
        }
      case _ => Left("invalid date_range")
    }
  }

  /** .eml input: locate the aggregate attachment inside MIME parts
    * (xml / gzip / zip payloads, base64 transfer encoding) — the path of
    * parser.go:392-628.
    */
  def parseEmail(data: Array[Byte]): Either[String, AggregateReport] = {
    val msg = Mime.parseMessage(Extract.utf8(data))
    val candidates = msg.flatten.filterNot(_.isMultipart)
    val hit = candidates.iterator.flatMap { part =>
      val ct = part.contentType
      val fn = part.header("content-disposition") + part.header("content-type")
      val looksLikeReport =
        ct.contains("xml") || ct.contains("gzip") || ct.contains("zip") ||
          fn.contains(".xml") || fn.contains(".gz") || fn.contains(".zip") ||
          ct.contains("octet-stream")
      if (!looksLikeReport) None
      else Try(part.decodedBytes).toOption.flatMap(b => parse(b).toOption)
    }.take(1).toSeq
    hit.headOption.toRight("no aggregate report found in email")
  }

  /** Bytes → report, auto-detecting raw XML vs compressed vs email. */
  def parseAny(data: Array[Byte]): Either[String, AggregateReport] =
    Extract.decompressed(data).map(Extract.utf8).flatMap { text =>
      if (text.contains("<feedback")) parseXml(text) else parseEmail(data)
    }
}

/** Forensic / failure reports (RFC 6591 ARF). Mirrors the field map and
  * defaults of parser.go:1563-1694 (feedback-type "auth-failure",
  * delivery-result normalization, auth-failure default ["dmarc"],
  * From:-header domain fallback, headers-only sample detection).
  */
object ForensicParser {

  private val DeliveryResults = Seq("delivered", "spam", "policy", "reject", "other")

  def parse(data: Array[Byte]): Either[String, ForensicReport] = {
    val msg = Mime.parseMessage(Extract.utf8(data))
    val subject = msg.header("subject")
    val messageId = msg.header("message-id")
    val arrival = parseRfc2822(msg.header("date"))
      .getOrElse(new Timestamp(0L))

    val parts = msg.flatten
    val feedbackPart = parts.find(_.contentType.contains("feedback-report"))
    val samplePart = parts.find(p =>
      p.contentType.contains("rfc822") || p.contentType.contains("rfc822-headers"))

    val (feedbackText, sampleText) = (feedbackPart, samplePart) match {
      case (Some(f), s) =>
        (f.decodedText, s.map(_.decodedText).getOrElse(""))
      case (None, _) =>
        // plain-text fallback: split body at the first blank-line-
        // separated block that stops matching Field: value
        val body = msg.rawBody
        val i = body.indexOf("\n\n")
        if (i > 0) (body.substring(0, i), body.substring(i + 2)) else (body, "")
    }

    if (feedbackText.trim.isEmpty) Left("no feedback report found")
    else Right(fromFeedback(feedbackText, sampleText, subject, messageId, arrival))
  }

  private[graft] def fromFeedback(
      feedback: String, sample: String, subject: String, messageId: String,
      arrival: Timestamp): ForensicReport = {
    var r = ForensicReport(
      feedbackType = "", userAgent = None, version = None,
      originalEnvelopeId = None, originalMailFrom = None, originalRcptTo = None,
      arrivalDate = arrival, subject = subject, messageId = messageId,
      authenticationResults = "", dkimDomain = None,
      source = AggregateXmlParser.offlineSource(""),
      deliveryResult = "", authFailure = Seq.empty, reportedDomain = "",
      authenticationMechanisms = Seq.empty, sampleHeadersOnly = false,
      sample = sample)

    feedback.split("\r?\n").foreach { line0 =>
      val line = line0.trim
      val i = line.indexOf(':')
      if (line.nonEmpty && i > 0) {
        val field = line.substring(0, i).trim.toLowerCase
        val value = line.substring(i + 1).trim
        field match {
          case "feedback-type"        => r = r.copy(feedbackType = value)
          case "user-agent"           => r = r.copy(userAgent = Some(value))
          case "version"              => r = r.copy(version = Some(value))
          case "original-envelope-id" => r = r.copy(originalEnvelopeId = Some(value))
          case "original-mail-from"   => r = r.copy(originalMailFrom = Some(value))
          case "original-rcpt-to"     => r = r.copy(originalRcptTo = Some(value))
          case "arrival-date" =>
            parseRfc2822(value).orElse(parseIso(value)).foreach(d => r = r.copy(arrivalDate = d))
          case "source-ip" =>
            val ip = value.split("\\s+").headOption.getOrElse(value)
            r = r.copy(source = AggregateXmlParser.offlineSource(ip))
          case "authentication-results" => r = r.copy(authenticationResults = value)
          case "dkim-domain"            => r = r.copy(dkimDomain = Some(value))
          case "reported-domain"        => r = r.copy(reportedDomain = value)
          case "delivery-result"        => r = r.copy(deliveryResult = value)
          case "auth-failure" =>
            r = r.copy(authFailure = value.split(",").map(_.trim).toSeq)
          case "identity-alignment" =>
            if (value != "none")
              r = r.copy(authenticationMechanisms = value.split(",").map(_.trim).toSeq)
          case _ => ()
        }
      }
    }

    val delivery = {
      val v = r.deliveryResult.toLowerCase
      if (v.isEmpty) "other"
      else DeliveryResults.find(v.contains).getOrElse("other")
    }
    val reported =
      if (r.reportedDomain.nonEmpty || r.source.ipAddress.isEmpty) r.reportedDomain
      else domainFromSample(sample)
    r.copy(
      feedbackType = if (r.feedbackType.isEmpty) "auth-failure" else r.feedbackType,
      deliveryResult = delivery,
      authFailure = if (r.authFailure.isEmpty) Seq("dmarc") else r.authFailure,
      reportedDomain = reported,
      sampleHeadersOnly = !sample.contains("\n\n") &&
        (sample.contains("Received:") || sample.contains("From:")),
    )
  }

  private[graft] def domainFromSample(sample: String): String =
    sample.split("\r?\n").iterator.map(_.trim)
      .find(_.toLowerCase.startsWith("from:"))
      .flatMap { l =>
        val v = l.substring(5).trim
        val at = v.lastIndexOf('@')
        if (at < 0) None
        else Some(v.substring(at + 1).takeWhile(c => c != '>' && c != ' ').trim)
      }
      .getOrElse("")

  private def parseRfc2822(s: String): Option[Timestamp] =
    Try {
      val f = java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME
      Timestamp.from(java.time.ZonedDateTime.parse(s.trim.replaceAll("\\s+\\(.*\\)$", ""), f).toInstant)
    }.toOption

  private def parseIso(s: String): Option[Timestamp] =
    Try(Timestamp.from(java.time.OffsetDateTime.parse(s.trim).toInstant)).toOption
}

/** SMTP TLS reports (RFC 8460). JSON field names follow the RFC's
  * kebab-case wire format (samples/smtp_tls/rfc8460.json); email-wrapped
  * variants (base64 / application/tlsrpt+gzip attachments) are unwrapped
  * through the same MIME walker — parser.go:651-880.
  * Jackson (already on the Spark classpath) does the tree parsing.
  */
object TlsReportParser {
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

  private val mapper = new ObjectMapper()

  private def str(n: JsonNode, f: String): String = {
    val v = n.get(f); if (v == null || v.isNull) "" else v.asText
  }
  private def opt(n: JsonNode, f: String): Option[String] = {
    val v = n.get(f); if (v == null || v.isNull) None else Some(v.asText)
  }
  private def iso(s: String): Timestamp =
    Try(Timestamp.from(java.time.OffsetDateTime.parse(s).toInstant))
      .getOrElse(new Timestamp(0L))

  def parseJson(data: Array[Byte]): Either[String, TlsReport] =
    Try(mapper.readTree(Extract.decompress(data))).toEither.left
      .map(e => s"invalid JSON: ${e.getMessage}")
      .flatMap { root =>
        if (root == null || !root.has("organization-name")) Left("not a TLS report")
        else {
          val dr = root.path("date-range")
          val policies = if (!root.has("policies")) Seq.empty[TlsPolicy] else {
            root.path("policies").elements().asScalaSeq.map { pol =>
              val p = pol.path("policy")
              val sum = pol.path("summary")
              TlsPolicy(
                policyDomain = str(p, "policy-domain"),
                policyType = str(p, "policy-type"),
                policyStrings = p.path("policy-string").elements().asScalaSeq.map(_.asText),
                mxHostPatterns = p.path("mx-host-pattern").elements().asScalaSeq.map(_.asText),
                successfulSessionCount = sum.path("total-successful-session-count").asLong(0L),
                failedSessionCount = sum.path("total-failure-session-count").asLong(0L),
                failureDetails = pol.path("failure-details").elements().asScalaSeq.map { f =>
                  TlsFailureDetail(
                    resultType = str(f, "result-type"),
                    failedSessionCount = f.path("failed-session-count").asLong(0L),
                    sendingMtaIp = opt(f, "sending-mta-ip"),
                    receivingIp = opt(f, "receiving-ip"),
                    receivingMxHostname = opt(f, "receiving-mx-hostname"),
                    receivingMxHelo = opt(f, "receiving-mx-helo"),
                    additionalInfoUri = opt(f, "additional-info-uri"),
                    failureReasonCode = opt(f, "failure-reason-code"),
                  )
                },
              )
            }
          }
          Right(TlsReport(
            organizationName = str(root, "organization-name"),
            beginDate = iso(str(dr, "start-datetime")),
            endDate = iso(str(dr, "end-datetime")),
            contactInfo = str(root, "contact-info"),
            reportId = str(root, "report-id"),
            policies = policies,
          ))
        }
      }

  /** JSON, compressed JSON, or .eml with a tlsrpt attachment. */
  def parseAny(data: Array[Byte]): Either[String, TlsReport] = {
    val direct = parseJson(data)
    if (direct.isRight) direct
    else {
      val msg = Mime.parseMessage(Extract.utf8(data))
      val hit = msg.flatten.filterNot(_.isMultipart).iterator.flatMap { part =>
        if (part.contentType.contains("tlsrpt") ||
            part.contentType.contains("json") ||
            part.contentType.contains("octet-stream"))
          Try(part.decodedBytes).toOption.flatMap(b => parseJson(b).toOption)
        else None
      }.take(1).toSeq
      hit.headOption.toRight("no SMTP TLS report found")
    }
  }

  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScalaSeq: Seq[A] = {
      val b = Seq.newBuilder[A]
      while (it.hasNext) b += it.next()
      b.result()
    }
  }
}

/** One report of any family, as [[ReportParser.parse]] recognised it. */
sealed trait ParsedReport {
  /** Family name in intake metrics and landed file names. */
  def family: String
}
final case class ParsedAggregate(r: AggregateReport) extends ParsedReport {
  def family: String = "aggregate"
}
final case class ParsedForensic(r: ForensicReport) extends ParsedReport {
  def family: String = "forensic"
}
final case class ParsedTls(r: TlsReport) extends ParsedReport {
  def family: String = "smtp_tls"
}

/** Report-family auto-detection shared by every intake (parser.go
  * ParseData, main.go:parseAndWriteOutput): aggregate first, then
  * forensic, then SMTP TLS; the Left joins all three parsers' errors.
  */
object ReportParser {
  def parse(data: Array[Byte]): Either[String, ParsedReport] =
    AggregateXmlParser.parseAny(data).map(ParsedAggregate(_): ParsedReport)
      .left.flatMap { aggErr =>
        ForensicParser.parse(data).map(ParsedForensic(_): ParsedReport)
          .left.flatMap { forErr =>
            TlsReportParser.parseAny(data).map(ParsedTls(_): ParsedReport)
              .left.map(tlsErr => s"aggregate: $aggErr; forensic: $forErr; smtp_tls: $tlsErr")
          }
      }
}
