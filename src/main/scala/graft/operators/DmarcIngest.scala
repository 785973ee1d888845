package graft.operators

import graft.sources.DmarcReader
import org.apache.spark.sql.functions._

/** Rows-only query entries exercising the DMARC ingestion pipeline on the
  * reference's own sample corpus (read-only). These have no SQL oracle —
  * the driver records rows>0; the ScalaTest specs pin exact field values
  * against the reference's documented semantics.
  */
object DmarcIngest extends QueryModule {

  /** Reference sample-corpus root — the single definition every module
    * and spec reading the read-only reference checkout goes through.
    */
  private[graft] val Samples = "/root/reference/samples"

  override def entries: Seq[QueryDef] = Seq(
    QueryDef(
      "p_aggregate_xml",
      (s, _) =>
        DmarcReader.aggregateReports(s, s"$Samples/aggregate", "*.xml")
          .toDF()
          .select(col("reportId"), col("orgName"), col("domain"), col("p"),
                  col("sp"), col("pct"), size(col("records")).as("n_records"))
          .orderBy("reportId"),
      // snapshot oracle (scheme of q_tls_failure_breakdown): the sample
      // corpus is SF-independent, so the committed expected parse pins
      // the XML parser in the hash gate; ParseSnapshotsSpec keeps the
      // constants honest against the live parse.
      Some(s"""WITH t(reportId, orgName, domain, p, sp, pct, n_records) AS (VALUES
             |  ${graft.api.ParseSnapshots.aggregateXmlSqlValues})
             |SELECT * FROM t ORDER BY reportId""".stripMargin),
    ),
    QueryDef(
      "p_records_flatten",
      (s, _) => {
        // Seq-typed fields serialized to joined strings at the output
        // boundary: the driver's pandas comparator cannot sort array cells.
        val rows = DmarcReader.aggregateRecords(s, s"$Samples/aggregate").toDF()
        val arrayCols = Set(
          "policy_override_reasons", "policy_override_comments",
          "dkim_domains", "dkim_selectors", "dkim_results",
          "spf_domains", "spf_scopes", "spf_results")
        rows.select(rows.columns.map { c =>
            if (arrayCols(c)) array_join(col(c), ";").as(c) else col(c)
          }.toIndexedSeq: _*)
          .orderBy("report_id", "source_ip_address")
      },
      // snapshot oracle, resource-backed (2302 rows × 25 columns is too
      // big for inline Scala): the committed expected flatten of the
      // whole sample corpus, hash-gated like p_aggregate_xml
      Some(graft.api.ParseSnapshots.resourceSql("p_records_flatten")),
    ),
    QueryDef(
      "p_compressed",
      (s, _) =>
        DmarcReader.aggregateReports(s, s"$Samples/extract_report", "*.{gz,zip,xml}")
          .toDF()
          .select(col("reportId"), col("domain"), size(col("records")).as("n_records"))
          .orderBy("reportId"),
      Some(s"""WITH t(reportId, domain, n_records) AS (VALUES
             |  ${graft.api.ParseSnapshots.compressedSqlValues})
             |SELECT * FROM t ORDER BY reportId""".stripMargin),
    ),
    QueryDef(
      "p_forensic_arf",
      (s, _) =>
        DmarcReader.forensicReports(s, s"$Samples/forensic", "*.eml")
          .toDF()
          .select(col("feedbackType"), col("reportedDomain"), col("deliveryResult"),
                  col("source.ipAddress").as("source_ip"),
                  array_join(col("authFailure"), ";").as("auth_failure"))
          .orderBy("reportedDomain", "source_ip"),
      Some(s"""WITH t(feedbackType, reportedDomain, deliveryResult, source_ip, auth_failure) AS (VALUES
             |  ${graft.api.ParseSnapshots.forensicArfSqlValues})
             |SELECT * FROM t ORDER BY reportedDomain, source_ip""".stripMargin),
    ),
    QueryDef(
      "p_smtp_tls_json",
      (s, _) => {
        val reports = DmarcReader.tlsReports(s, s"$Samples/smtp_tls").toDF()
        reports.select(
            col("organizationName"), col("reportId"),
            explode(col("policies")).as("policy"))
          .select(col("organizationName"), col("reportId"),
                  col("policy.policyDomain").as("policy_domain"),
                  col("policy.policyType").as("policy_type"),
                  col("policy.successfulSessionCount").as("ok_sessions"),
                  col("policy.failedSessionCount").as("fail_sessions"),
                  size(col("policy.failureDetails")).as("n_failures"))
          .orderBy("reportId", "policy_domain")
      },
      Some(s"""WITH t(organizationName, reportId, policy_domain, policy_type, ok_sessions, fail_sessions, n_failures) AS (VALUES
             |  ${graft.api.ParseSnapshots.smtpTlsJsonSqlValues})
             |SELECT * FROM t ORDER BY reportId, policy_domain""".stripMargin),
    ),
    // SMTP TLS failures analytics (clickhouse.go:184-228's two TLS
    // tables): the Spark side parses the samples LIVE and flattens via
    // TlsAnalytics; the DuckDB oracle aggregates the committed snapshot
    // of the same flatten embedded as VALUES (TlsAnalytics.Sample*Rows —
    // no filesystem dependency at oracle time; TlsAnalyticsSpec pins
    // the constants to the live parse) — so the gate hash-checks
    // parser + flatten + aggregation end to end.
    QueryDef(
      "q_tls_failure_breakdown",
      (s, _) => graft.api.TlsAnalytics.failureBreakdown(
        graft.api.TlsAnalytics.tlsFailureRows(
          DmarcReader.tlsReports(s, s"$Samples/smtp_tls"))),
      Some(s"""WITH f(result_type, failed_session_count) AS (VALUES
             |  ${graft.api.TlsAnalytics.failureSqlValues})
             |SELECT result_type,
             |CAST(COUNT(*) AS BIGINT) AS n_failures,
             |CAST(SUM(failed_session_count) AS BIGINT) AS failed_sessions
             |FROM f GROUP BY 1 ORDER BY failed_sessions DESC, result_type""".stripMargin),
    ),
    QueryDef(
      "q_tls_session_success",
      (s, _) => graft.api.TlsAnalytics.sessionSuccessRate(
        graft.api.TlsAnalytics.tlsReportRows(
          DmarcReader.tlsReports(s, s"$Samples/smtp_tls"))),
      Some(s"""WITH p(policy_domain, successful_session_count, failed_session_count) AS (VALUES
             |  ${graft.api.TlsAnalytics.policySqlValues})
             |SELECT policy_domain,
             |CAST(SUM(successful_session_count) AS BIGINT) AS ok_sessions,
             |CAST(SUM(failed_session_count) AS BIGINT) AS failed_sessions,
             |ROUND(SUM(successful_session_count) * 100.0 /
             |  (SUM(successful_session_count) + SUM(failed_session_count)), 2) AS success_rate
             |FROM p GROUP BY 1 ORDER BY policy_domain""".stripMargin),
    ),
    // Email output surface (reference internal/smtp/smtp.go): the MIME
    // formatting half as a distributed projection over the parsed sample
    // corpus. Rows-only (a MIME message is not SQL-expressible);
    // EmailOutputSpec pins structure, base64 round-trip, and delivery.
    QueryDef(
      "o_email_mime",
      (s, _) => {
        val cfg = graft.sources.SmtpConfig(enabled = false,
          from = "dmarc@example.com", to = Seq("admin@example.com"))
        graft.sources.EmailOutput.aggregateEmails(
            DmarcReader.aggregateReports(s, s"$Samples/aggregate", "*.xml"),
            cfg, java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
          .select(col("report_key"), col("subject"), col("attachment_name"),
                  length(col("mime")).as("mime_chars"))
          // report ids collide across orgs in the sample corpus — the
          // secondary key keeps the ordering total
          .orderBy("report_key", "mime_chars")
      },
      Some(s"""WITH t(report_key, subject, attachment_name, mime_chars) AS (VALUES
             |  ${graft.api.ParseSnapshots.emailMimeSqlValues})
             |SELECT * FROM t ORDER BY report_key, mime_chars""".stripMargin),
    ),
    // Kafka output over the wire (internal/kafka/kafka.go: a producer
    // JSON-marshalling each report family to its topic). Here the REAL
    // Kafka binary protocol is on the wire end to end: Produce v3 +
    // Fetch v4 with record-batch v2 (zigzag varints, CRC32C) against
    // an in-process broker that VALIDATES the CRC on every produce.
    // One message per parsed sample report (the reference's unit, 19
    // messages — bounded by the sample corpus), fetched back and
    // re-parsed; the emitted frame is computed FROM THE FETCH, so the
    // hash gate holds batch encoding, framing, the broker round trip,
    // and the JSON payloads to snapshot-derived constants.
    QueryDef(
      "o_kafka_wire",
      (s, _) => {
        import graft.sources.{KafkaWire => KW}
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        val broker = new graft.sources.InMemoryKafka()
        val summary =
          try {
            def compact(j: JValue) = JsonMethods.compact(JsonMethods.render(j))
            def produce(topic: String, msgs: Seq[(String, JValue)]): Unit =
              KW.produce("127.0.0.1", broker.port, topic,
                msgs.map { case (k, v) =>
                  (k.getBytes("UTF-8"), compact(v).getBytes("UTF-8"))
                })
            def fetchJson(topic: String): Seq[JValue] =
              KW.fetch("127.0.0.1", broker.port, topic, 0L)
                .map(r => JsonMethods.parse(new String(r.value, "UTF-8")))
            val aggs = DmarcReader
              .aggregateReports(s, s"$Samples/aggregate", "*.xml").collect()
            val forensic = DmarcReader
              .forensicReports(s, s"$Samples/forensic", "*.eml").collect()
            val tls = DmarcReader.tlsReports(s, s"$Samples/smtp_tls").collect()
            produce("dmarc_aggregate", aggs.toIndexedSeq.map(a => a.reportId ->
              JObject("report_id" -> JString(a.reportId),
                      "org_name" -> JString(a.orgName),
                      "n_records" -> JInt(a.records.size))))
            produce("dmarc_forensic", forensic.toIndexedSeq.map(f => f.reportedDomain ->
              JObject("feedback_type" -> JString(f.feedbackType),
                      "reported_domain" -> JString(f.reportedDomain))))
            produce("dmarc_smtp_tls", tls.toIndexedSeq.map(t => t.reportId ->
              JObject("report_id" -> JString(t.reportId),
                      "ok_sessions" -> JInt(BigInt(
                        t.policies.map(_.successfulSessionCount).sum)))))
            def longOf(v: JValue): Long =
              v match { case JInt(n) => n.toLong; case JLong(n) => n; case _ => 0L }
            def strOf(v: JValue): String =
              v match { case JString(x) => x; case _ => "" }
            val a = fetchJson("dmarc_aggregate")
            val f = fetchJson("dmarc_forensic")
            val t = fetchJson("dmarc_smtp_tls")
            Seq(
              ("dmarc_aggregate", a.size.toLong,
                a.map(r => longOf(r \ "n_records")).sum),
              ("dmarc_forensic", f.size.toLong,
                f.map(r => strOf(r \ "reported_domain")).distinct.size.toLong),
              ("dmarc_smtp_tls", t.size.toLong,
                t.map(r => longOf(r \ "ok_sessions")).sum),
            )
          } finally broker.close()
        import s.implicits._
        summary.toDF("topic", "n_messages", "checksum").orderBy("topic")
      },
      Some(s"""WITH reps(reportId, orgName, domain, p, sp, pct, n_records) AS (VALUES
              |  ${graft.api.ParseSnapshots.aggregateXmlSqlValues}),
              |forens(ft, dom, dr, ip, af) AS (VALUES
              |  ${graft.api.ParseSnapshots.forensicArfSqlValues}),
              |tls(org, rid, pd, pt, ok, fail, nf) AS (VALUES
              |  ${graft.api.ParseSnapshots.smtpTlsJsonSqlValues}),
              |tlsrep AS (SELECT rid, SUM(ok) AS ok FROM tls GROUP BY rid)
              |SELECT * FROM (
              |  SELECT 'dmarc_aggregate' AS topic,
              |    CAST(COUNT(*) AS BIGINT) AS n_messages,
              |    CAST(SUM(n_records) AS BIGINT) AS checksum FROM reps
              |  UNION ALL SELECT 'dmarc_forensic',
              |    CAST(COUNT(*) AS BIGINT),
              |    CAST(COUNT(DISTINCT dom) AS BIGINT) FROM forens
              |  UNION ALL SELECT 'dmarc_smtp_tls',
              |    CAST(COUNT(*) AS BIGINT), CAST(SUM(ok) AS BIGINT) FROM tlsrep
              |) ORDER BY topic""".stripMargin),
    ),
    // ClickHouse storage over the wire (internal/storage/clickhouse/
    // clickhouse.go): the reference creates five MergeTree tables and
    // batch-inserts every report family. Here the REAL ClickHouse HTTP
    // dialect is on the wire end to end — the same five DDLs
    // (clickhouse.go:79-228), per-partition batched `INSERT ... FORMAT
    // JSONEachRow` POSTs from the executors (the production
    // Spark→ClickHouse write shape; nothing collected to the driver),
    // and JSONEachRow readback — against an in-process HTTP server
    // (InMemoryImap pattern). The emitted frame is computed FROM THE
    // READBACK, so the hash gate holds serialization, the HTTP round
    // trip, and the row counts/checksums to constants derived from the
    // committed parse snapshots.
    QueryDef(
      "o_clickhouse_http",
      (s, _) => {
        import graft.sources.{ClickHouseHttp => CH, OutputWriters => OW}
        import org.json4s._
        val server = new graft.sources.InMemoryClickHouse()
        val summary =
          try {
            val base = s"http://127.0.0.1:${server.port}"
            CH.createTables(base)
            // globs mirror the snapshot each table is gated against:
            // reports ↔ p_aggregate_xml ("*.xml"), records ↔ the
            // p_records_flatten resource (whole corpus incl. gz/zip/eml)
            val reports = DmarcReader.aggregateReports(s, s"$Samples/aggregate", "*.xml")
            val records = DmarcReader.enrichedRecords(s, s"$Samples/aggregate")
            val forensic = DmarcReader.forensicReports(s, s"$Samples/forensic", "*.eml")
            val tls = DmarcReader.tlsReports(s, s"$Samples/smtp_tls")
            CH.insertDataFrame(base, "dmarc_aggregate_reports", OW.reportsTableLayout(reports))
            CH.insertDataFrame(base, "dmarc_aggregate_records", records)
            CH.insertDataFrame(base, "dmarc_forensic_reports", OW.forensicTableLayout(forensic))
            CH.insertDataFrame(base, "dmarc_smtp_tls_reports",
              graft.api.TlsAnalytics.tlsReportRows(tls))
            CH.insertDataFrame(base, "dmarc_smtp_tls_failures",
              graft.api.TlsAnalytics.tlsFailureRows(tls))
            def longOf(v: JValue): Long = v match {
              case JInt(n) => n.toLong
              case JLong(n) => n
              case JDouble(d) => d.toLong
              case _ => 0L
            }
            def strOf(v: JValue): String =
              v match { case JString(x) => x; case _ => "" }
            def read(t: String): Seq[JValue] = CH.selectAll(base, t)
            val recs = read("dmarc_aggregate_records")
            val reps = read("dmarc_aggregate_reports")
            val forns = read("dmarc_forensic_reports")
            val tlsReps = read("dmarc_smtp_tls_reports")
            val tlsFails = read("dmarc_smtp_tls_failures")
            Seq(
              ("dmarc_aggregate_records", recs.size.toLong,
                recs.map(r => longOf(r \ "count")).sum),
              ("dmarc_aggregate_reports", reps.size.toLong,
                reps.map(r => strOf(r \ "report_id")).distinct.size.toLong),
              ("dmarc_forensic_reports", forns.size.toLong,
                forns.map(r => strOf(r \ "reported_domain")).distinct.size.toLong),
              ("dmarc_smtp_tls_reports", tlsReps.size.toLong,
                tlsReps.map(r => longOf(r \ "successful_session_count")).sum),
              ("dmarc_smtp_tls_failures", tlsFails.size.toLong,
                tlsFails.map(r => strOf(r \ "report_id")).distinct.size.toLong),
            )
          } finally server.close()
        import s.implicits._
        summary.toDF("table_name", "n_rows", "checksum").orderBy("table_name")
      },
      Some(s"""WITH flat AS (${graft.api.ParseSnapshots.resourceSql("p_records_flatten")}),
              |reps(reportId, orgName, domain, p, sp, pct, n_records) AS (VALUES
              |  ${graft.api.ParseSnapshots.aggregateXmlSqlValues}),
              |forens(ft, dom, dr, ip, af) AS (VALUES
              |  ${graft.api.ParseSnapshots.forensicArfSqlValues}),
              |tls(org, rid, pd, pt, ok, fail, nf) AS (VALUES
              |  ${graft.api.ParseSnapshots.smtpTlsJsonSqlValues})
              |SELECT * FROM (
              |  SELECT 'dmarc_aggregate_records' AS table_name,
              |    CAST(COUNT(*) AS BIGINT) AS n_rows,
              |    CAST(SUM(count) AS BIGINT) AS checksum FROM flat
              |  UNION ALL SELECT 'dmarc_aggregate_reports',
              |    CAST(COUNT(*) AS BIGINT),
              |    CAST(COUNT(DISTINCT reportId) AS BIGINT) FROM reps
              |  UNION ALL SELECT 'dmarc_forensic_reports',
              |    CAST(COUNT(*) AS BIGINT),
              |    CAST(COUNT(DISTINCT dom) AS BIGINT) FROM forens
              |  UNION ALL SELECT 'dmarc_smtp_tls_reports',
              |    CAST(COUNT(*) AS BIGINT), CAST(SUM(ok) AS BIGINT) FROM tls
              |  UNION ALL SELECT 'dmarc_smtp_tls_failures',
              |    CAST(SUM(nf) AS BIGINT),
              |    CAST(COUNT(DISTINCT CASE WHEN nf > 0 THEN rid END) AS BIGINT) FROM tls
              |) ORDER BY table_name""".stripMargin),
    ),
    // Live IMAP intake (internal/imap/client.go), self-contained: an
    // in-process IMAP4rev1 server is seeded with the sample corpus as
    // MAIL (raw .eml samples as-is, other files wrapped as multipart
    // attachments), the protocol client runs the reference's pull loop
    // (login → select → subject filter → RFC822 fetch → move-to-archive)
    // over REAL wire bytes, and Spark flattens the fetched messages with
    // the same executor-side parser as every other intake path. ORACLED
    // with st_report_intake's snapshot: mail intake, file-stream intake,
    // and batch parse must all land on the identical record set.
    QueryDef(
      "p_imap_intake",
      (s, _) => {
        val dir = new java.io.File(s"$Samples/aggregate")
        val files = Option(dir.listFiles()).getOrElse(throw new java.io.FileNotFoundException(
          s"p_imap_intake: sample corpus directory $dir is missing")).sortBy(_.getName)
        val seed = files.toIndexedSeq.map { f =>
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          if (f.getName.endsWith(".eml")) bytes
          else graft.sources.ImapIntake.wrapReportEmail(f.getName, bytes)
        }
        val server = new graft.sources.InMemoryImap("dmarc", "secret", seed)
        try {
          val msgs = graft.sources.ImapIntake.pullMessages(
            graft.sources.ImapConfig("127.0.0.1", server.port, "dmarc", "secret"))
          graft.sources.ImapIntake.aggregateRecords(s, msgs).toDF()
            .select(col("report_id"), col("org_name"), col("source_ip_address"),
                    col("count"), col("disposition"), col("begin_date"))
            .orderBy("report_id", "source_ip_address", "count")
        } finally server.close()
      },
      Some(graft.api.ParseSnapshots.resourceSql("st_report_intake")),
    ),
    // CLI output surface (cmd/parsedmarc-go/main.go + internal/output/
    // output.go): every sample-corpus file runs the CLI's parse chain
    // and byte-faithful serializers (ReportJson — Go MarshalIndent /
    // encoding/csv twins) ON EXECUTORS over a distributed binaryFile
    // scan; the frame pins each emitted document's sha256, so the gate
    // hash-checks the exact bytes a reference user's `-format json`
    // run would produce. GraftCliSpec pins full golden documents and
    // the flag/daemon semantics.
    QueryDef(
      "o_cli_json",
      (s, _) => {
        import s.implicits._
        cliDocs(s, "json").toDF("file", "family", "doc_sha256", "doc_chars")
          .orderBy("file")
      },
      Some(graft.api.ParseSnapshots.resourceSql("o_cli_json")),
    ),
    QueryDef(
      "o_cli_csv",
      (s, _) => {
        import s.implicits._
        cliDocs(s, "csv").toDF("file", "family", "doc_sha256", "doc_chars")
          .orderBy("file")
      },
      Some(graft.api.ParseSnapshots.resourceSql("o_cli_csv")),
    ),
  )

  /** Distributed CLI-document projection shared by o_cli_json/o_cli_csv:
    * (relative file, parsed family, sha256 of the reference-byte
    * document, document chars); unparseable files keep the CLI's
    * continue-past-failure semantics as family "error".
    */
  private def cliDocs(s: org.apache.spark.sql.SparkSession, format: String):
      org.apache.spark.sql.Dataset[(String, String, String, Int)] = {
    import s.implicits._
    import graft.GraftCli
    import graft.sources.ReportParser
    s.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(Samples)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .map { case (path, bytes) =>
        val rel = path.substring(path.indexOf("/samples/") + "/samples/".length)
        ReportParser.parse(bytes) match {
          case Right(p) =>
            // the CLI's own renderer — gate and CLI cannot drift
            val d = GraftCli.renderDocument(p, format)
            val sha = java.security.MessageDigest.getInstance("SHA-256")
              .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
            (rel, p.family, sha, d.length)
          case Left(_) => (rel, "error", "", 0)
        }
      }
  }
}
