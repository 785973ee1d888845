package graft.sources

import java.sql.Timestamp
import scala.util.Try
import scala.xml.{Elem, XML}

/** The scala-xml DOM walk that read aggregate reports before the
  * streaming [[AggregateXml]] pass: `XML.loadString` (scala-xml 2.4's
  * parser refuses a DOCTYPE), then `\` and `.text` per field. Kept as the
  * oracle of `AggregateXmlParitySpec`: [[parse]] is the parser's old
  * `parse`, [[validate]] the validator's old aggregate checks.
  */
object AggregateXmlDomOracle {

  private def default(v: String, d: String): String = if (v.isEmpty) d else v

  private def epoch(s: String): Option[Timestamp] =
    Try(new Timestamp(s.trim.toLong * 1000L)).toOption

  def parse(data: Array[Byte]): Either[String, AggregateReport] =
    Extract.decompressed(data).flatMap(b => parseXml(Extract.utf8(b)))

  /** The parser's old `parseAny`, its attachment walk included. */
  def parseAny(data: Array[Byte]): Either[String, AggregateReport] =
    Extract.decompressed(data).map(Extract.utf8).flatMap { text =>
      if (text.contains("<feedback")) parseXml(text)
      else AggregateXmlParser.attachments(data).flatMap(parse(_).toOption).nextOption()
        .toRight("no aggregate report found in email")
    }

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
              source = AggregateXmlParser.offlineSource(txt(row \ "source_ip")),
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

  /** The validator's old aggregate checks over the whole decoded text. */
  def validate(data: Array[Byte]): ValidationResult =
    Extract.decompressed(data).map(Extract.utf8)
      .left.map(err => ValidationResult(valid = false, Seq(err), Seq.empty))
      .map(validateRaw).merge

  private def validateRaw(raw: String): ValidationResult = {
    import ReportValidator.{isValidDomain, isValidEmail, isValidIpLiteral, isValidPolicy}
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
}
