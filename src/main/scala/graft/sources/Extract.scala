package graft.sources

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, ZipInputStream}

/** Payload extraction: gzip / zip / raw auto-detection by magic bytes,
  * plus base64 decode — the pipeline the reference applies to report
  * attachments (/root/reference/internal/parser/parser.go:255-356).
  * Pure JVM functions, safe to call inside executor-side flatMaps.
  */
object Extract {

  def isGzip(b: Array[Byte]): Boolean =
    b.length > 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b

  def isZip(b: Array[Byte]): Boolean =
    b.length > 4 && b(0) == 'P' && b(1) == 'K' && b(2) == 3 && b(3) == 4

  def gunzip(b: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new ByteArrayInputStream(b))
    try in.readAllBytes()
    finally in.close()
  }

  /** First file entry of a zip archive (reports ship one file per zip). */
  def unzipFirst(b: Array[Byte]): Array[Byte] = {
    val in = new ZipInputStream(new ByteArrayInputStream(b))
    try {
      var entry = in.getNextEntry
      while (entry != null && entry.isDirectory) entry = in.getNextEntry
      if (entry == null) Array.emptyByteArray else in.readAllBytes()
    } finally in.close()
  }

  /** Unwrap any compression layer, recursively (gzip-in-zip happens). */
  @annotation.tailrec
  def decompress(b: Array[Byte]): Array[Byte] =
    if (isGzip(b)) decompress(gunzip(b))
    else if (isZip(b)) decompress(unzipFirst(b))
    else b

  /** [[decompress]]; a corrupt or truncated archive is a `Left`, not an exception */
  def decompressed(b: Array[Byte]): Either[String, Array[Byte]] =
    scala.util.Try(decompress(b)).toEither.left.map(e => s"corrupt compressed payload: $e")

  def base64Decode(s: String): Array[Byte] =
    java.util.Base64.getMimeDecoder.decode(s.trim)

  def utf8(b: Array[Byte]): String = new String(b, StandardCharsets.UTF_8)
}

/** Minimal MIME multipart walker — enough to locate report attachments in
  * .eml inputs the way the reference does
  * (/root/reference/internal/parser/parser.go:411-627). Handles header
  * unfolding, nested multiparts, and base64/quoted-printable transfer
  * encodings.
  */
object Mime {
  final case class Part(headers: Map[String, String], rawBody: String) {
    def header(name: String): String = headers.getOrElse(name.toLowerCase, "")
    def contentType: String = header("content-type").toLowerCase
    def isMultipart: Boolean = contentType.startsWith("multipart/")

    def decodedBytes: Array[Byte] = {
      val enc = header("content-transfer-encoding").toLowerCase.trim
      if (enc == "base64") Extract.base64Decode(rawBody)
      else if (enc == "quoted-printable") Mime.decodeQp(rawBody).getBytes("UTF-8")
      else rawBody.getBytes("UTF-8")
    }
    def decodedText: String = Extract.utf8(decodedBytes)

    /** This part plus all nested parts, depth-first. */
    def flatten: Seq[Part] =
      if (!isMultipart) Seq(this)
      else this +: Mime.splitParts(this).flatMap(_.flatten)
  }

  def parseHeaders(head: String): Map[String, String] = {
    val unfolded = head.replaceAll("\r\n[ \t]", " ").replaceAll("\n[ \t]", " ")
    unfolded.split("\r?\n").iterator.flatMap { line =>
      val i = line.indexOf(':')
      if (i <= 0) None
      else Some(line.substring(0, i).trim.toLowerCase -> line.substring(i + 1).trim)
    }.toMap
  }

  def parseMessage(raw: String): Part = {
    val norm = raw
    val sep = if (norm.contains("\r\n\r\n")) "\r\n\r\n" else "\n\n"
    val i = norm.indexOf(sep)
    if (i < 0) Part(parseHeaders(norm), "")
    else Part(parseHeaders(norm.substring(0, i)), norm.substring(i + sep.length))
  }

  def boundaryOf(p: Part): Option[String] = {
    val ct = p.header("content-type")
    val m = """(?i)boundary\s*=\s*"?([^";]+)"?""".r.findFirstMatchIn(ct)
    m.map(_.group(1).trim)
  }

  def splitParts(p: Part): Seq[Part] = boundaryOf(p) match {
    case None => Seq.empty
    case Some(b) =>
      val marker = "--" + b
      p.rawBody.split(java.util.regex.Pattern.quote(marker)).toSeq
        .drop(1) // preamble
        .filterNot(s => s.startsWith("--")) // closing marker remnant
        .map(_.dropWhile(c => c == '\r' || c == '\n'))
        .filter(_.nonEmpty)
        .map { chunk =>
          val sep = if (chunk.contains("\r\n\r\n")) "\r\n\r\n" else "\n\n"
          val i = chunk.indexOf(sep)
          if (i < 0) Part(parseHeaders(chunk), "")
          else Part(parseHeaders(chunk.substring(0, i)), chunk.substring(i + sep.length))
        }
  }

  def decodeQp(s: String): String = {
    val sb = new StringBuilder
    val t = s.replaceAll("=\r?\n", "")
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (c == '=' && i + 2 < t.length) {
        try {
          sb.append(Integer.parseInt(t.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
