package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, US_ASCII, UTF_8}
import java.nio.file.{Files, Path, Paths}
import java.util.zip.{GZIPOutputStream, ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

/** The in-repo DMARC sample corpus (`src/test/resources/dmarc-fixtures`,
  * provenance and properties in its README): hand-written RFC 7489
  * aggregate XML, RFC 6591 ARF mail and RFC 8460 TLS JSON, laid out like
  * the reference's `samples/` directory. Every committed file is text:
  * `corpus/` is copied as it is, and the gzip, zip, base64-MIME and
  * Latin-1 variants are built from `payloads/` by [[wrapped]] when the
  * corpus is first materialized.
  */
object DmarcFixtures {

  /** The reference checkout; the checks whose ground truth exists only
    * there (its dashboards, config example, screenshots and the corpus
    * the snapshot oracles were pinned on) run where it is present.
    */
  val Reference = "/root/reference"
  val ReferenceSamples: String = graft.operators.DmarcIngest.DefaultSamples

  private lazy val resources: Path =
    Paths.get(getClass.getResource("/dmarc-fixtures").toURI)

  private def payload(name: String): Array[Byte] =
    Files.readAllBytes(resources.resolve("payloads").resolve(name))

  private def corpusFile(rel: String): Array[Byte] =
    Files.readAllBytes(resources.resolve("corpus").resolve(rel))

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream
    val gz = new GZIPOutputStream(out) // header mtime is always 0
    gz.write(b)
    gz.close()
    out.toByteArray
  }

  /** One-entry zip archive; the entry carries a fixed DOS timestamp. */
  private def zip(entryName: String, b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream
    val z = new ZipOutputStream(out)
    val e = new ZipEntry(entryName)
    e.setTimeLocal(java.time.LocalDateTime.of(2018, 9, 14, 0, 0))
    z.putNextEntry(e)
    z.write(b)
    z.closeEntry()
    z.close()
    out.toByteArray
  }

  /** UTF-8 text re-encoded as ISO-8859-1: the bytes a reporter that
    * declares `encoding="UTF-8"` but writes Latin-1 sends.
    */
  private def latin1(b: Array[Byte]): Array[Byte] = new String(b, UTF_8).getBytes(ISO_8859_1)

  /** An RFC example message with its `<gzipped content of report>`
    * placeholder line replaced by the attachment in 76-column base64,
    * in CRLF wire form.
    */
  private def mimeAttach(template: Array[Byte], attachment: Array[Byte]): Array[Byte] = {
    val b64 = java.util.Base64.getMimeEncoder(76, "\r\n".getBytes(US_ASCII))
      .encodeToString(attachment)
    val placeholder = "<gzipped content of report>"
    val text = new String(template, US_ASCII).replace("\n", "\r\n")
    require(text.contains(placeholder), "template lacks the placeholder")
    text.replace(placeholder, b64).getBytes(US_ASCII)
  }

  /** Corpus-relative path → bytes, for every file built from a payload. */
  private def wrapped: Seq[(String, Array[Byte])] = {
    val gzXml = "mx.mailhost.example!example.com!1516060800!1516147199!102675056.xml"
    val zipXml = "dmarc.mailbox.example!example.com!1536883200!1536969599.xml"
    val emlXml = "mail.receiver.example!example.com!1013662812!1013749130.xml"
    val tlsJson = "mail.sender.example!example.net!1494201600!1494287999.json"
    val nice = corpusFile("extract_report/nice-input.xml")
    Seq(
      s"aggregate/$gzXml.gz" -> gzip(payload(gzXml)),
      s"aggregate/$zipXml.zip" -> zip(zipXml, payload(zipXml)),
      "aggregate/mail.receiver.example!example.com!1013662812!1013749130.eml" ->
        mimeAttach(payload("rfc7489-report-email.eml"), gzip(payload(emlXml))),
      "aggregate/invalid_utf_8.xml" -> latin1(payload("invalid_utf_8.xml")),
      "extract_report/nice-input.xml.gz" -> gzip(nice),
      "extract_report/nice-input.xml.zip" -> zip("nice-input.xml", nice),
      "smtp_tls/mail.sender.example!example.net!1494201600!1494287999.eml" ->
        mimeAttach(payload("rfc8460-report-email.eml"), gzip(payload(tlsJson))),
    )
  }

  /** Corpus root: `corpus/` plus [[wrapped]], materialized once per JVM
    * in a temporary directory that is removed at exit.
    */
  lazy val Root: String = {
    val root = Files.createTempDirectory("graft-dmarc-fixtures")
    val corpus = resources.resolve("corpus")
    val walk = Files.walk(corpus)
    try walk.iterator.asScala.foreach { p =>
      val target = root.resolve(corpus.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target)
    } finally walk.close()
    wrapped.foreach { case (rel, bytes) => Files.write(root.resolve(rel), bytes) }
    sys.addShutdownHook {
      val files = Files.walk(root)
      try files.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally files.close()
    }
    root.toString
  }
}
