package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.{Dataset, SparkSession}

/** IMAP connection settings (reference config.IMAPConfig, the fields
  * internal/imap/client.go actually reads).
  */
final case class ImapConfig(
    host: String,
    port: Int,
    username: String,
    password: String,
    mailbox: String = "INBOX",
    archiveMailbox: String = "Archive",
    deleteProcessed: Boolean = false,
    security: ImapSecurity = ImapSecurity.Plaintext)

/** Live IMAP report intake — the protocol half of the reference's mail
  * pipeline (internal/imap/client.go:1-409: connect, login, select,
  * envelope-filter DMARC-looking messages, fetch RFC822, extract report
  * attachments, mark processed by delete-and-expunge or move-to-archive,
  * poll forever).
  *
  * The dialogue is a minimal IMAP4rev1 client — LOGIN / SELECT /
  * FETCH (with RFC 3501 literal parsing) / STORE / EXPUNGE / MOVE
  * (RFC 6851, what the go client's Move issues) — the same scope the
  * fake-server SMTP twin (EmailOutput.send) covers for output.
  * Transport matches the reference's `imap.tls` posture
  * (client.go:42-66): [[ImapSecurity.Imaps]] dials TLS before the
  * first protocol byte, [[ImapSecurity.StartTls]] upgrades in place
  * after the greeting (and refuses to LOGIN if the server doesn't
  * advertise the capability — no silent downgrade), Plaintext is the
  * config-gated fallback. Offline, trust is pinned to the in-process
  * self-signed cert ([[TlsSupport]]).
  *
  * Split of labor at scale: the MAIL FETCH is inherently one network
  * client (same as the reference — one connection, one mailbox); the
  * PARSE+FLATTEN is Spark — fetched message bytes become a Dataset and
  * run the identical executor-side parser the file/batch paths use, so
  * a mailbox burst parallelizes across the cluster even though the
  * fetch is serial. Deliberate delta from the reference: client.go:289
  * expunges after EACH message, which renumbers every later sequence
  * number and can delete the wrong message; here all fetches happen
  * before any archive mutation, and mutations run in DESCENDING
  * sequence order so renumbering never touches a pending message.
  */
object ImapIntake {

  /** Subject keywords marking a DMARC-ish message (client.go:181-187). */
  private val DmarcKeywords =
    Seq("dmarc", "report domain", "aggregate report", "forensic report", "tlsrpt")

  def isDmarcSubject(subject: String): Boolean = {
    val s = subject.toLowerCase
    DmarcKeywords.exists(s.contains)
  }

  /** Structure fallback for keyword-less subjects (client.go:190-227's
    * hasReportAttachment): does any MIME part carry a report-ish content
    * type, or an octet-stream with a report-ish filename? Applied to the
    * fetched message instead of a server-provided BODYSTRUCTURE — same
    * predicate, no BODYSTRUCTURE grammar.
    */
  def hasReportPart(rfc822: Array[Byte]): Boolean =
    Mime.parseMessage(Extract.utf8(rfc822)).flatten.filterNot(_.isMultipart).exists { p =>
      val ct = p.contentType
      ct.contains("xml") || ct.contains("zip") || ct.contains("gzip") ||
        ct.contains("tlsrpt+json") || (ct.contains("octet-stream") && {
          val fn = (p.header("content-disposition") + ct).toLowerCase
          Seq(".xml", ".zip", ".gz", ".json").exists(fn.contains)
        })
    }

  /** One fetched mailbox message. */
  final case class FetchedMessage(seq: Int, subject: String, rfc822: Array[Byte])

  /** One untagged response line plus any literal payload it carried. */
  final case class ResponseLine(text: String, literal: Array[Byte])

  /** Minimal IMAP4rev1 dialogue over a plain socket. Every command is
    * tagged, responses are read until the tagged completion, and
    * `{n}`-literals are consumed byte-exact (never line-split) — the
    * part of RFC 3501 a line-oriented reader gets wrong first.
    */
  final class ImapClient(host: String, port: Int, timeoutMs: Int = 30000,
                         security: ImapSecurity = ImapSecurity.Plaintext,
                         sslContext: javax.net.ssl.SSLContext = TlsSupport.clientContext)
      extends AutoCloseable {
    private var socket: Socket = security match {
      case ImapSecurity.Imaps =>
        // implicit TLS (client.go:42-66's tls.Dial posture): handshake
        // before the first protocol byte. The read timeout must be in
        // force BEFORE startHandshake() — a stalled handshake otherwise
        // blocks forever with no timeout at all.
        val s = sslContext.getSocketFactory.createSocket(host, port)
          .asInstanceOf[javax.net.ssl.SSLSocket]
        s.setSoTimeout(timeoutMs)
        s.startHandshake()
        s
      case _ => new Socket(host, port)
    }
    socket.setSoTimeout(timeoutMs)
    private var in = new BufferedInputStream(socket.getInputStream)
    private var out = new BufferedOutputStream(socket.getOutputStream)
    private var tagN = 0

    // Scala initializes vals in declaration order; everything command()
    // touches must be initialized BEFORE the constructor-time greeting /
    // STARTTLS block below, or the upgrade dialogue NPEs in <init>.
    private val LiteralAnnounce = """^(.*)\{(\d+)\}$""".r

    /** Negotiated transport ("TLSv1.3" once encrypted, else "plaintext"). */
    def negotiated: String = socket match {
      case s: javax.net.ssl.SSLSocket => s.getSession.getProtocol
      case _                          => "plaintext"
    }

    /** Server greeting (consumed on connect). */
    val greeting: String = readLine()
    require(greeting.startsWith("* OK"), s"unexpected IMAP greeting: $greeting")

    // RFC 3501 §6.2.1 upgrade: issue STARTTLS after the greeting, then
    // wrap the same TCP connection. The greeting's capability list must
    // advertise it — a server that can't means a config mismatch, which
    // should fail loudly rather than silently downgrade to plaintext.
    if (security == ImapSecurity.StartTls) {
      require(greeting.toUpperCase.contains("STARTTLS"),
        s"server does not advertise STARTTLS: $greeting")
      command("STARTTLS")
      val ssl = TlsSupport.upgrade(socket, sslContext, clientMode = true, host)
      socket = ssl
      in = new BufferedInputStream(ssl.getInputStream)
      out = new BufferedOutputStream(ssl.getOutputStream)
    }

    private def readLine(): String = {
      val buf = new ByteArrayOutputStream()
      var prev = -1
      var c = in.read()
      while (c >= 0 && !(prev == '\r' && c == '\n')) {
        buf.write(c)
        prev = c
        c = in.read()
      }
      require(c >= 0, "IMAP connection closed mid-line")
      val b = buf.toByteArray
      new String(b, 0, math.max(0, b.length - 1), US_ASCII) // drop the \r
    }

    private def readExactly(n: Int): Array[Byte] = {
      val b = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = in.read(b, off, n - off)
        require(r >= 0, "IMAP connection closed mid-literal")
        off += r
      }
      b
    }

    /** Send one command; return the untagged lines (literals attached);
      * require an OK completion.
      */
    def command(cmd: String): Seq[ResponseLine] = {
      tagN += 1
      val tag = f"A$tagN%04d"
      out.write(s"$tag $cmd\r\n".getBytes(US_ASCII))
      out.flush()
      val lines = Seq.newBuilder[ResponseLine]
      var done = false
      while (!done) {
        var text = readLine()
        var literal = Array.emptyByteArray
        // a line announcing {n} continues after n raw bytes; fold the
        // continuation into the same logical response line
        var continued = true
        while (continued) {
          text match {
            case LiteralAnnounce(prefix, n) =>
              literal = readExactly(n.toInt)
              text = prefix + readLine()
            case _ => continued = false
          }
        }
        if (text.startsWith(s"$tag ")) {
          require(text.startsWith(s"$tag OK"), s"IMAP command failed: $text")
          done = true
        } else lines += ResponseLine(text, literal)
      }
      lines.result()
    }

    private def quote(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

    def login(username: String, password: String): Unit = {
      command(s"LOGIN ${quote(username)} ${quote(password)}")
      ()
    }

    /** SELECT the mailbox; returns the EXISTS count. */
    def select(mailbox: String): Int =
      command(s"SELECT ${quote(mailbox)}").view
        .map(_.text)
        .collectFirst { case s if s.endsWith(" EXISTS") =>
          s.stripPrefix("* ").stripSuffix(" EXISTS").trim.toInt
        }
        .getOrElse(0)

    private val SubjectHeader = """(?im)^subject:\s*(.*)$""".r

    /** Subject via BODY.PEEK (PEEK: filtering must not set \Seen —
      * only PROCESSING marks a message, like the reference's flow).
      */
    def fetchSubject(seq: Int): String = {
      val r = command(s"FETCH $seq (BODY.PEEK[HEADER.FIELDS (SUBJECT)])")
      r.iterator
        .map(l => new String(l.literal, US_ASCII).replaceAll("\r\n[ \t]", " "))
        .flatMap(SubjectHeader.findFirstMatchIn(_))
        .map(_.group(1).trim)
        .toSeq.headOption.getOrElse("")
    }

    /** Full RFC822 message bytes. */
    def fetchRfc822(seq: Int): Array[Byte] = {
      val r = command(s"FETCH $seq (RFC822)")
      r.find(_.literal.nonEmpty)
        .map(_.literal)
        .getOrElse(sys.error(s"FETCH $seq returned no RFC822 literal"))
    }

    def storeDeleted(seq: Int): Unit = { command(s"STORE $seq +FLAGS (\\Deleted)"); () }
    def expunge(): Unit = { command("EXPUNGE"); () }
    def move(seq: Int, mailbox: String): Unit = {
      command(s"MOVE $seq ${quote(mailbox)}")
      ()
    }
    def logout(): Unit = { command("LOGOUT"); () }

    override def close(): Unit = socket.close()
  }

  /** One poll of the mailbox (client.go ProcessMessages): select, filter
    * by subject (structure fallback), fetch each DMARC-looking message,
    * then mark every fetched message processed — delete+expunge or
    * move-to-archive per config — in descending sequence order.
    */
  def pullMessages(cfg: ImapConfig): Seq[FetchedMessage] = {
    val client = new ImapClient(cfg.host, cfg.port, security = cfg.security)
    try {
      client.login(cfg.username, cfg.password)
      val n = client.select(cfg.mailbox)
      val fetched = (1 to n).flatMap { seq =>
        val subject = client.fetchSubject(seq)
        if (isDmarcSubject(subject)) {
          Some(FetchedMessage(seq, subject, client.fetchRfc822(seq)))
        } else {
          // keyword-less subject: fetch and keep only if the MIME
          // structure carries a report-ish part (client.go:168-171)
          val raw = client.fetchRfc822(seq)
          if (hasReportPart(raw)) Some(FetchedMessage(seq, subject, raw)) else None
        }
      }
      fetched.map(_.seq).sorted.reverse.foreach { seq =>
        if (cfg.deleteProcessed) client.storeDeleted(seq)
        else if (cfg.archiveMailbox.nonEmpty && cfg.archiveMailbox != cfg.mailbox)
          client.move(seq, cfg.archiveMailbox)
      }
      if (cfg.deleteProcessed) client.expunge()
      client.logout()
      fetched
    } finally client.close()
  }

  /** Flatten fetched messages to aggregate record rows on the CLUSTER:
    * the message bytes become the `content` column of the same
    * executor-side parse step as the batch/file paths (the aggregate
    * parser handles the MIME walk, attachment decode, and
    * decompression), so IMAP intake can never drift from file intake.
    */
  def aggregateRecords(spark: SparkSession,
                       messages: Seq[FetchedMessage]): Dataset[AggregateRecordRow] = {
    import spark.implicits._
    DmarcReader.records(DmarcReader.Aggregate.reports(
      spark.createDataset(messages.map(_.rfc822)).toDF("content")))
  }

  /** Wrap a raw report payload as the multipart message a reporting org
    * would mail (subject carries the reference's filter keyword; the
    * attachment keeps its filename so extension-based detection works).
    * Used to seed test mailboxes from the sample corpus.
    */
  def wrapReportEmail(filename: String, payload: Array[Byte]): Array[Byte] = {
    val b64 = java.util.Base64.getMimeEncoder(76, "\r\n".getBytes(US_ASCII))
      .encodeToString(payload)
    (s"From: noreply@reporter.example\r\n" +
      s"To: dmarc@example.com\r\n" +
      s"Subject: Report domain: $filename\r\n" +
      "MIME-Version: 1.0\r\n" +
      "Content-Type: multipart/mixed; boundary=graft-report\r\n\r\n" +
      "--graft-report\r\n" +
      "Content-Type: text/plain; charset=utf-8\r\n\r\n" +
      "DMARC report attached.\r\n" +
      "--graft-report\r\n" +
      s"""Content-Type: application/octet-stream; name="$filename"\r\n""" +
      s"""Content-Disposition: attachment; filename="$filename"\r\n""" +
      "Content-Transfer-Encoding: base64\r\n\r\n" +
      b64 + "\r\n" +
      "--graft-report--\r\n").getBytes(US_ASCII)
  }
}
