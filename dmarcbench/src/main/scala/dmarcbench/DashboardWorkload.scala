package dmarcbench

import java.sql.Timestamp
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.api.{DmarcAnalytics, TlsAnalytics}
import graft.functions.GeoEnrichment
import graft.sources._

/** `dmarc_dashboard`: one closed-loop client refreshing the overview,
  * forensic and TLS dashboards over month-partitioned parquet. Each
  * refresh runs every panel plus the summary document, at most `nproc`
  * panels in flight; refreshes alternate a 30-day window (a `begin_date`
  * filter, as a time picker applies it) and the full range.
  */
object DashboardWorkload {
  import Harness._

  val Records = 100000L
  val Forensic = 3000L
  val TlsReports = 1000L
  val Ips = 20000
  /** the 30-day window: the last 30 days of the 13-month range */
  val WindowStart = Timestamp.valueOf("2026-01-01 00:00:00")
  val FullStart = Timestamp.valueOf("2025-01-01 00:00:00")
  private val Epoch0 = FullStart.getTime / 1000
  private val Days = 396

  private val Orgs = Array("google.com", "yahoo.com", "outlook.com", "mail.ru", "comcast.net",
    "fastmail.com", "zoho.com", "protonmail.ch", "gmx.net", "qq.com", "yandex.ru", "aol.com")
  private val Domains = Array("example.com", "example.org", "shop.example", "news.example",
    "corp.example", "billing.example")
  private val GeoOctets = Array(3, 10, 12, 13, 17, 23, 31, 47, 59, 71, 72, 83, 97, 100, 101,
    109, 113, 127, 139, 151, 167, 198, 199)
  private val OtherOctets = Array(5, 45, 64, 88, 185, 203, 212, 234)
  private val Dispositions = Array("none", "none", "none", "quarantine", "reject")
  private val AuthFailures = Array("dmarc", "spf", "dkim")
  private val Delivery = Array("delivered", "spam", "policy", "reject", "other")
  private val TlsResults = Array("starttls-not-supported", "certificate-expired",
    "certificate-host-mismatch", "validation-failure", "sts-policy-fetch-error")

  private def rng(seed: Long, salt: Long, id: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + id)

  /** the seeded pool of source IPs, 70 % inside GeoEnrichment's fixture */
  private def ip(seed: Long, k: Int): String = {
    val r = rng(seed, 7, k)
    val first = if (r.nextDouble() < 0.7) GeoOctets(r.nextInt(GeoOctets.length))
                else OtherOctets(r.nextInt(OtherOctets.length))
    s"$first.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}"
  }

  /** source IP index: a few heavy senders and a long tail */
  private def ipIndex(r: SplittableRandom): Int =
    math.min(Ips - 1, (math.pow(r.nextDouble(), 3) * Ips).toInt)

  private def day(r: SplittableRandom) = Epoch0 + r.nextInt(Days) * 86400L

  def recordRow(seed: Long, id: Long): AggregateRecordRow = {
    val report = id / 40
    val rr = rng(seed, 1, report)
    val begin = new Timestamp(day(rr) * 1000)
    val org = Orgs(rr.nextInt(Orgs.length))
    val r = rng(seed, 2, id)
    val hf = Domains(r.nextInt(Domains.length))
    val dkim = r.nextInt(3) > 0
    val spf = r.nextInt(3) > 0
    AggregateRecordRow(
      report_id = s"$seed-$report", org_name = org,
      source_ip_address = ip(seed, ipIndex(r)),
      source_country = "Unknown", source_reverse_dns = "", source_base_domain = "",
      source_name = "", source_type = "Unknown",
      count = 1 + (1.0 / math.max(1e-6, r.nextDouble())).toInt % 5000,
      spf_aligned = spf, dkim_aligned = dkim, dmarc_aligned = spf || dkim,
      disposition = Dispositions(r.nextInt(Dispositions.length)),
      policy_override_reasons = Seq.empty, policy_override_comments = Seq.empty,
      envelope_from = if (r.nextBoolean()) Some(hf) else None, header_from = hf,
      envelope_to = None,
      dkim_domains = Seq(hf), dkim_selectors = Seq(s"s${r.nextInt(4)}"),
      dkim_results = Seq(if (dkim) "pass" else "fail"),
      spf_domains = Seq(hf), spf_scopes = Seq("mfrom"), spf_results = Seq(if (spf) "pass" else "fail"),
      begin_date = begin)
  }

  def forensicRow(seed: Long, id: Long): ForensicReport = {
    val r = rng(seed, 3, id)
    val dom = Domains(r.nextInt(Domains.length))
    val arrival = new Timestamp((Epoch0 + (r.nextDouble() * Days * 86400).toLong) * 1000)
    ForensicReport(
      feedbackType = "auth-failure", userAgent = Some("dmarcbench/1.0"), version = Some("1"),
      originalEnvelopeId = None, originalMailFrom = Some(s"user${r.nextInt(1000)}@$dom"),
      originalRcptTo = Some("rcpt@example.net"), arrivalDate = arrival,
      subject = s"invoice $id", messageId = s"<$id@$dom>",
      authenticationResults = s"mx.example.net; dmarc=fail header.from=$dom",
      dkimDomain = None, source = AggregateXmlParser.offlineSource(ip(seed, ipIndex(r))),
      deliveryResult = Delivery(r.nextInt(Delivery.length)),
      authFailure = Seq(AuthFailures(r.nextInt(AuthFailures.length))),
      reportedDomain = dom, authenticationMechanisms = Seq.empty,
      sampleHeadersOnly = true, sample = "")
  }

  def tlsReport(seed: Long, id: Long): TlsReport = {
    val r = rng(seed, 4, id)
    val begin = new Timestamp(day(r) * 1000)
    TlsReport(
      organizationName = Orgs(r.nextInt(Orgs.length)), beginDate = begin,
      endDate = new Timestamp(begin.getTime + 86399000L),
      contactInfo = "tls-reporting@reporter.example", reportId = s"tls-$seed-$id",
      policies = (0 to r.nextInt(3)).map { _ =>
        val dom = Domains(r.nextInt(Domains.length))
        val details = (0 until r.nextInt(4)).map { _ =>
          TlsFailureDetail(TlsResults(r.nextInt(TlsResults.length)), 1L + r.nextInt(300),
            Some(ip(seed, ipIndex(r))), None, Some(s"mx1.$dom"), None, None, None)
        }
        TlsPolicy(dom, "sts", Seq("version: STSv1", "mode: testing"), Seq(s"mx1.$dom"),
          r.nextInt(10000).toLong, details.map(_.failedSessionCount).sum, details)
      })
  }

  /** Writes the four dashboard tables from seeded rows: records through
    * enrichment and `writeRecordsTable`, TLS rows through the TLS table
    * writers, forensic reports enriched and month-partitioned in the
    * report shape the forensic panels take.
    */
  def build(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val parts = 2 * spark.sparkContext.defaultParallelism
    val records = spark.range(0, Records, 1, parts).map(id => recordRow(seed, id))
    OutputWriters.writeRecordsTable(
      GeoEnrichment.enrich(records.toDF(), "source_ip_address").as[AggregateRecordRow],
      s"$dir/records")
    val forensic = spark.range(0, Forensic, 1, parts).map(id => forensicRow(seed, id))
    GeoEnrichment.enrichForensic(forensic.toDF())
      .withColumn("report_month", date_format(col("arrivalDate"), "yyyyMM"))
      .repartition(col("report_month"))
      .write.mode("overwrite").partitionBy("report_month").parquet(s"$dir/forensic")
    val tls = spark.range(0, TlsReports, 1, parts).map(id => tlsReport(seed, id))
    OutputWriters.writeTlsReportsTable(TlsAnalytics.tlsReportRows(tls), s"$dir/tls_reports")
    OutputWriters.writeTlsFailuresTable(TlsAnalytics.tlsFailureRows(tls),
      IngestWorkload.IngestMonth, s"$dir/tls_failures")
  }

  final case class Frames(records: DataFrame, forensic: DataFrame, tlsReports: DataFrame,
                          tlsFailures: DataFrame)

  /** The panels of one refresh: (name, frame) pairs plus the summary. */
  def panels(f: Frames, window: Boolean): Seq[(String, Either[DataFrame, () => String])] = {
    val since = if (window) WindowStart else FullStart
    val r = if (window) f.records.filter(col("begin_date") >= lit(since)) else f.records
    val fo = if (window) f.forensic.filter(col("arrivalDate") >= lit(since)) else f.forensic
    val tr = if (window) f.tlsReports.filter(col("begin_date") >= lit(since)) else f.tlsReports
    Seq(
      "daily_volume" -> DmarcAnalytics.dailyVolume(r),
      "total_messages" -> DmarcAnalytics.totalMessages(f.records, since.toString),
      "compliance_rate" -> DmarcAnalytics.complianceRate(r),
      "pass_fail" -> DmarcAnalytics.passFailBreakdown(r),
      "dispositions" -> DmarcAnalytics.dispositionBreakdown(r),
      "top_countries" -> DmarcAnalytics.topCountries(r),
      "org_compliance" -> DmarcAnalytics.orgCompliance(r),
      "top_sources" -> DmarcAnalytics.topSources(r),
      "forensic_per_day" -> DmarcAnalytics.forensicPerDay(fo),
      "feedback_types" -> DmarcAnalytics.feedbackTypeBreakdown(fo),
      "delivery_results" -> DmarcAnalytics.deliveryResultBreakdown(fo),
      "top_reported_domains" -> DmarcAnalytics.topReportedDomains(fo),
      "forensic_top_countries" -> DmarcAnalytics.forensicTopCountries(f.forensic, Some(since.toString)),
      "top_forensic_sources" -> DmarcAnalytics.topForensicSources(fo),
      "tls_failure_breakdown" -> TlsAnalytics.failureBreakdown(f.tlsFailures),
      "tls_session_success" -> TlsAnalytics.sessionSuccessRate(tr),
    ).map { case (k, df) => k -> Left(df) } :+
      ("summary" -> Right(() => DmarcAnalytics.summaryJson(r, fo, Some(tr))))
  }

  /** One panel execution. `doneMs` counts from the start of its refresh. */
  final case class PanelRun(name: String, window: Boolean, serviceMs: Double, doneMs: Double,
                            planMs: Double, execMs: Double, rows: Seq[Seq[Any]],
                            filesRead: Long, filesTotal: Long)

  final case class Refresh(window: Boolean, seconds: Double, panels: Seq[PanelRun])

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  def refresh(f: Frames, window: Boolean, pool: java.util.concurrent.ExecutorService,
              tr: Tracer, res: Result, tableFiles: Map[String, Long]): Refresh = {
    val t0 = System.nanoTime()
    val (secs, runs) = timed {
      tr.span(if (window) "dash:refresh_window" else "dash:refresh_full") {
        val refreshId = tr.currentId
        val futures = panels(f, window).map { case (name, p) =>
          pool.submit(new Callable[Option[PanelRun]] {
            def call(): Option[PanelRun] = res.op(s"panel $name") {
              tr.span(s"dash.api:$name", parent = refreshId) {
                val s0 = System.nanoTime()
                val (planS, execS, rows, files) = p match {
                  case Left(df) =>
                    val (ps, plan) = timed(df.queryExecution.executedPlan)
                    val (es, rs) = timed(df.collect())
                    val sc = scans(plan)
                    val read = sc.flatMap(_.metrics.get("numFiles")).map(_.value).sum
                    val total = sc.map { s =>
                      val root = s.relation.location.rootPaths.head.toString
                      tableFiles.collectFirst { case (k, v) if root.endsWith(k) => v }.getOrElse(0L)
                    }.sum
                    (ps, es, rs.toSeq.map(_.toSeq), (read, total))
                  case Right(doc) =>
                    val (es, s) = timed(doc())
                    (0.0, es, Seq(Seq(s)), (0L, 0L))
                }
                val s1 = System.nanoTime()
                PanelRun(name, window, (s1 - s0) / 1e6, (s1 - t0) / 1e6, planS * 1e3, execS * 1e3,
                  rows, files._1, files._2)
              }
            }
          })
        }
        futures.flatMap(_.get())
      }
    }
    Refresh(window, secs, runs)
  }

  def run(spark: SparkSession, o: Opts, tr: Tracer, res: Result): Unit = {
    val dir = s"${o.inputs}/tables"
    val (buildS, _) = timed(build(spark, o.seed, dir))
    res("build_s") = buildS
    val tableFiles = Seq("records", "forensic", "tls_reports", "tls_failures")
      .map(t => s"/$t" -> dataFiles(s"$dir/$t")._1).toMap
    res("table_files") = tableFiles.map { case (k, v) => k.drop(1) -> v }
    res("records_table_bytes") = dataFiles(s"$dir/records")._2
    val f = Frames(spark.read.parquet(s"$dir/records"), spark.read.parquet(s"$dir/forensic"),
      spark.read.parquet(s"$dir/tls_reports"), spark.read.parquet(s"$dir/tls_failures"))
    val nproc = graft.GraftSession.cpus.toIntOption.getOrElse(Runtime.getRuntime.availableProcessors)
    val pool = Executors.newFixedThreadPool(nproc)
    val off = new Tracer(spark.sparkContext, tr.runId, enabled = false)
    try {
      // one pass is a refresh of each kind, window first
      def pair(t: Tracer) = Seq(refresh(f, window = true, pool, t, res, tableFiles),
                                refresh(f, window = false, pool, t, res, tableFiles))
      val (warmS, _) = timed(pair(off))
      res("warmup_s") = warmS
      val pairs = window(o.passes)(_ => pair(off)).map(_._2)
      val refreshes = pairs.flatten
      res("pass_s") = pairs.map(_.map(_.seconds).sum)
      record(res, refreshes)
      // the last refresh of each kind is checked against DuckDB
      Seq(true, false).foreach { w =>
        refreshes.filter(_.window == w).lastOption.foreach { r =>
          res(if (w) "panels_window" else "panels_full") =
            r.panels.map(p => p.name -> p.rows).toMap
        }
      }
      if (tr.enabled) {
        // tracing overhead: traced next to untraced passes, in both orders
        def timedPair(t: Tracer) = { System.gc(); pair(t).map(_.seconds).sum }
        val a = timedPair(off)
        val b = timedPair(tr)
        val c = timedPair(tr)
        val d = timedPair(off)
        res("trace_overhead_s") = ((b - a) + (c - d)) / 2
        tr.drain()
        val spans = tr.all.filter(_.name.startsWith("dash.api:"))
        val parents = tr.all.filter(_.name.startsWith("dash:refresh")).map(s => s.id -> s.name).toMap
        Seq("window" -> "dash:refresh_window", "full" -> "dash:refresh_full").foreach { case (k, n) =>
          val ps = spans.filter(s => parents.get(s.parent).contains(n))
          res(s"bytes_read_per_panel_$k") = ps.map(s => tr.workOf(s).inputBytes).sum.toDouble / ps.size
        }
      }
    } finally pool.shutdown()
  }

  private def record(res: Result, refreshes: Seq[Refresh]): Unit = {
    val ps = refreshes.flatMap(_.panels)
    res(s"refresh_s") = refreshes.map(_.seconds)
    res(s"refresh_window") = refreshes.map(_.window)
    res(s"panel_done_ms") = ps.map(_.doneMs)
    res(s"panel_service_ms") = ps.groupBy(_.name).map { case (k, v) => k -> v.map(_.serviceMs) }
    res(s"plan_ms") = ps.filter(_.name != "summary").map(_.planMs)
    res(s"exec_ms") = ps.filter(_.name != "summary").map(_.execMs)
    Seq(true -> "window", false -> "full").foreach { case (w, k) =>
      val sel = ps.filter(p => p.window == w && p.filesTotal > 0)
      res(s"files_read_ratio_$k") =
        sel.map(_.filesRead).sum.toDouble / math.max(1L, sel.map(_.filesTotal).sum)
    }
  }
}
