package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.Try
import scala.xml.XML

final case class ValidationResult(
    valid: Boolean, errors: Seq[String], warnings: Seq[String])

/** Report validation mirroring
  * /root/reference/internal/validation/validator.go — structural XML
  * checks, required fields, email/domain/IP/policy formats, date-range
  * rules, per-record warnings — plus a distributed variant that
  * validates a whole archive into a DataFrame (the shape a 100 TB intake
  * audit needs).
  */
object ReportValidator {

  private val EmailRe = """^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$""".r
  private val DomainRe = """^([a-zA-Z0-9]([a-zA-Z0-9\-]{0,61}[a-zA-Z0-9])?\.)+[a-zA-Z]{2,}$""".r
  private val ValidPolicies = Set("none", "quarantine", "reject")

  def isValidEmail(s: String): Boolean = EmailRe.matches(s)
  def isValidDomain(s: String): Boolean = s.nonEmpty && DomainRe.matches(s)
  def isValidIpLiteral(s: String): Boolean =
    Try(java.net.InetAddress.getByName(s)).isSuccess &&
      (s.contains(".") || s.contains(":"))
  def isValidPolicy(p: String): Boolean = ValidPolicies(p)

  /** validator.go ValidateXMLReport: structural + semantic checks with
    * the reference's error/warning split.
    */
  def validateAggregate(data: Array[Byte]): ValidationResult =
    decoded(data).map(validateAggregateRaw).merge

  /** decompress + utf8; an undecodable archive is an invalid result */
  private def decoded(data: Array[Byte]): Either[ValidationResult, String] =
    Extract.decompressed(data).map(Extract.utf8)
      .left.map(err => ValidationResult(valid = false, Seq(err), Seq.empty))

  private def validateAggregateRaw(raw: String): ValidationResult = {
    val errors = Seq.newBuilder[String]
    val warnings = Seq.newBuilder[String]

    Try(XML.loadString(raw)).toOption match {
      case None =>
        ValidationResult(valid = false, Seq("Invalid XML format"), Seq.empty)
      case Some(root) =>
        def txt(n: scala.xml.NodeSeq): String = n.text.trim
        val meta = root \ "report_metadata"
        val pol = root \ "policy_published"

        if (txt(meta \ "org_name").isEmpty) errors += "Missing organization name"
        if (txt(meta \ "report_id").isEmpty) errors += "Missing report ID"
        val email = txt(meta \ "email")
        if (email.nonEmpty && !isValidEmail(email)) warnings += "Invalid email format"
        val domain = txt(pol \ "domain")
        if (domain.isEmpty) errors += "Missing domain in policy published"
        else if (!isValidDomain(domain)) errors += "Invalid domain format in policy published"
        if (!isValidPolicy(txt(pol \ "p"))) errors += "Invalid DMARC policy value"

        val begin = Try(txt(meta \ "date_range" \ "begin").toLong).toOption
        val end = Try(txt(meta \ "date_range" \ "end").toLong).toOption
        (begin, end) match {
          case (Some(b), Some(e)) =>
            if (e < b) errors += "Invalid date range: end date is before begin date"
            else if (e - b > 48L * 3600) errors += "Invalid date range: exceeds 48 hours"
          case _ => errors += "Invalid date range: unparseable timestamps"
        }

        val records = root \ "record"
        if (records.isEmpty) warnings += "No records found in report"
        records.zipWithIndex.foreach { case (rec, i) =>
          val count = Try(txt(rec \ "row" \ "count").toInt).getOrElse(0)
          if (count <= 0) warnings += s"Record ${i + 1} has invalid count: $count"
          val ip = txt(rec \ "row" \ "source_ip")
          if (!isValidIpLiteral(ip)) errors += s"Record ${i + 1} has invalid source IP: $ip"
          val hf = txt(rec \ "identifiers" \ "header_from")
          if (hf.isEmpty) warnings += s"Record ${i + 1} missing header_from"
          else if (!isValidDomain(hf)) warnings += s"Record ${i + 1} has invalid header_from domain: $hf"
        }

        val errs = errors.result()
        ValidationResult(errs.isEmpty, errs, warnings.result())
    }
  }

  /** validator.go:143 ValidateJSONReport, extended with the structural
    * fields the RFC 8460 parse requires (DmarcParsers.parseTlsJson:284):
    * a malformed TLS drop-file should surface at AUDIT time, not parse
    * time. Errors: not JSON at all, or JSON that is not a TLS report
    * (no organization-name). Warnings: missing date-range / policies —
    * the parser tolerates them but the report is degenerate.
    */
  def validateTlsJson(data: Array[Byte]): ValidationResult =
    decoded(data).map(validateTlsJsonRaw).merge

  private def validateTlsJsonRaw(raw: String): ValidationResult = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Try(mapper.readTree(raw)).toOption match {
      case None | Some(null) =>
        ValidationResult(valid = false, Seq("Invalid JSON format"), Seq.empty)
      case Some(root) =>
        val errors = Seq.newBuilder[String]
        val warnings = Seq.newBuilder[String]
        if (!root.isObject) errors += "Invalid JSON format"
        else {
          if (!root.has("organization-name") ||
              root.path("organization-name").asText("").trim.isEmpty)
            errors += "Missing organization name"
          if (!root.has("date-range")) warnings += "Missing date-range"
          if (!root.has("policies") || !root.path("policies").isArray ||
              root.path("policies").isEmpty)
            warnings += "No policies found in report"
        }
        val errs = errors.result()
        ValidationResult(errs.isEmpty, errs, warnings.result())
    }
  }

  /** validator.go:157 ValidateBase64Content: strict std-alphabet decode. */
  def validateBase64(content: String): ValidationResult =
    if (Try(java.util.Base64.getDecoder.decode(
        content.filterNot(c => c == '\n' || c == '\r'))).isSuccess)
      ValidationResult(valid = true, Seq.empty, Seq.empty)
    else
      ValidationResult(valid = false, Seq("Invalid base64 encoding"), Seq.empty)

  def validateReportId(id: String): ValidationResult = {
    val errors = Seq.newBuilder[String]
    if (id.isEmpty) errors += "Report ID cannot be empty"
    if (id.length > 255) errors += "Report ID too long (max 255 characters)"
    if (id.exists(c => c < ' ' || "<>\"'&;".contains(c)))
      errors += "Report ID contains potentially dangerous characters"
    val errs = errors.result()
    ValidationResult(errs.isEmpty, errs, Seq.empty)
  }

  def validateSize(size: Long, maxSize: Long): ValidationResult = {
    val errors = Seq.newBuilder[String]
    val warnings = Seq.newBuilder[String]
    if (size <= 0) errors += "Empty report content"
    if (maxSize > 0 && size > maxSize)
      errors += s"Report size ($size bytes) exceeds maximum allowed size ($maxSize bytes)"
    if (size > 10L * 1024 * 1024)
      warnings += "Report size is very large, consider using compression"
    val errs = errors.result()
    ValidationResult(errs.isEmpty, errs, warnings.result())
  }

  /** Classify a report payload and run the matching family's
    * validation — the auto-detection the reference applies before
    * dispatching to parser/validator. JSON-shaped content goes through
    * the TLS-JSON checks, ARF feedback email through a forensic parse
    * probe (the reference has no standalone forensic validator; a
    * parse failure IS the audit error), everything else through the
    * aggregate-XML battery.
    */
  def validateAny(data: Array[Byte]): (String, ValidationResult) = {
    // decode ONCE (decompress + utf8 are the per-file hot-path cost in
    // the distributed audit) and dispatch on the decoded string; an
    // undecodable archive fails the fallback (aggregate) family
    decoded(data).fold("aggregate" -> _, validateRaw(data, _))
  }

  private def validateRaw(data: Array[Byte], raw: String): (String, ValidationResult) = {
    val head = raw.dropWhile(_.isWhitespace)
    // XML-shaped content is the aggregate family unconditionally: an
    // aggregate report whose field TEXT happens to contain
    // "Feedback-Type:" (e.g. an org name from a feedback vendor) must
    // not be misrouted to the forensic parser by a substring probe
    if (head.startsWith("<")) "aggregate" -> validateAggregateRaw(raw)
    else if (head.startsWith("{") || head.startsWith("["))
      "smtp_tls" -> validateTlsJsonRaw(raw)
    else if (raw.contains("feedback-report") || raw.contains("Feedback-Type:"))
      "forensic" -> (ForensicParser.parse(data) match {
        case Right(_)  => ValidationResult(valid = true, Seq.empty, Seq.empty)
        case Left(err) => ValidationResult(valid = false, Seq(err), Seq.empty)
      })
    else "aggregate" -> validateAggregateRaw(raw)
  }

  /** Distributed archive audit: every file validated on executors,
    * across all three report families (format auto-detected per file).
    */
  def validateDirectory(spark: SparkSession, path: String, glob: String = "*"): DataFrame = {
    import spark.implicits._
    DmarcReader.files(spark, path, glob).as[(String, Array[Byte])]
      .map { case (p, bytes) =>
        val (family, r) = validateAny(bytes)
        (p, family, r.valid, r.errors, r.warnings)
      }
      .toDF("path", "family", "valid", "errors", "warnings")
  }
}
