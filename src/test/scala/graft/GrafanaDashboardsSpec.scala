package graft

import graft.sources.GrafanaDashboards
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Grafana provisioning twin vs the reference's own dashboard JSON:
  * panel-by-panel structural parity (ids, types, titles, grid layout)
  * against grafana/clickhouse/dashboard-*.json, every Spark-SQL panel
  * query RUN against live views of the parsed sample corpus, value
  * parity of the translated SQL against direct DataFrame aggregation,
  * and the registry mapping (graftQuery) checked against SparkEntry.
  */
class GrafanaDashboardsSpec extends SparkSpec {

  private val RefDir = s"${DmarcFixtures.Reference}/grafana/clickhouse"

  private def assumeReference(): Unit =
    assume(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(RefDir)), s"$RefDir is absent")

  private def refDashboard(file: String): JValue =
    JsonMethods.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$RefDir/$file")))

  private def panelsOf(j: JValue): List[JValue] =
    (j \ "panels").asInstanceOf[JArray].arr

  private def structuralParity(
      ours: GrafanaDashboards.Dashboard, refFile: String): Unit = {
    val ref = panelsOf(refDashboard(refFile))
    assert(ours.panels.size == ref.size,
      s"panel count ${ours.panels.size} vs reference ${ref.size}")
    ours.panels.zip(ref).foreach { case (p, rp) =>
      assert(JInt(p.id) == rp \ "id")
      assert(JString(p.panelType) == rp \ "type")
      assert(JString(p.title) == rp \ "title")
      val g = rp \ "gridPos"
      assert(JInt(p.grid.h) == g \ "h", s"panel ${p.id} gridPos.h")
      assert(JInt(p.grid.w) == g \ "w", s"panel ${p.id} gridPos.w")
      assert(JInt(p.grid.x) == g \ "x", s"panel ${p.id} gridPos.x")
      assert(JInt(p.grid.y) == g \ "y", s"panel ${p.id} gridPos.y")
    }
  }

  test("overview dashboard mirrors the reference panel-for-panel") {
    assumeReference()
    structuralParity(GrafanaDashboards.Overview, "dashboard-dmarc-overview.json")
  }

  test("forensic dashboard mirrors the reference panel-for-panel") {
    assumeReference()
    structuralParity(GrafanaDashboards.Forensic, "dashboard-dmarc-forensic.json")
  }

  test("every panel names a registry entry that exists") {
    val names = SparkEntry.declaredNames.toSet
    (GrafanaDashboards.Overview.panels ++ GrafanaDashboards.Forensic.panels)
      .foreach(p => assert(names(p.graftQuery), s"panel ${p.title}: ${p.graftQuery}"))
  }

  private lazy val viewsReady: Unit = GrafanaDashboards.registerViews(
    spark, s"${DmarcFixtures.Root}/aggregate", s"${DmarcFixtures.Root}/forensic")

  test("all 18 panel queries run as Spark SQL over the sample corpus") {
    viewsReady
    (GrafanaDashboards.Overview.panels ++ GrafanaDashboards.Forensic.panels)
      .foreach { p =>
        val df = spark.sql(p.sparkSql)
        df.collect() // must not throw; sample dates fall outside now()-7d
        assert(df.columns.nonEmpty, p.title)
      }
  }

  /** Widen the time windows to cover the (historical) sample corpus and
    * check the translated SQL computes the same numbers as direct
    * DataFrame aggregation — the translation is semantics, not decoration.
    */
  test("translated SQL matches direct aggregation once the window covers the samples") {
    viewsReady
    def widened(sql: String): String =
      sql.replace("current_timestamp() - INTERVAL 7 DAY", "timestamp '2000-01-01 00:00:00'")
        .replace("current_timestamp() - INTERVAL 30 DAY", "timestamp '2000-01-01 00:00:00'")
    val recs = spark.table("dmarc_aggregate_records")

    // overview p2: total messages
    val total = spark.sql(widened(GrafanaDashboards.Overview.panels(1).sparkSql))
      .collect().head.getLong(0)
    val direct = recs.agg(sum("count")).collect().head.getLong(0)
    assert(total == direct && total > 0)

    // overview p4: alignment split sums back to the total
    val split = spark.sql(widened(GrafanaDashboards.Overview.panels(3).sparkSql))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(split.values.sum == direct)
    val passDirect = recs.filter(col("dmarc_aligned")).agg(sum("count"))
      .collect().head.getLong(0)
    assert(split.getOrElse("Pass", 0L) == passDirect)

    // forensic p3: unique reported domains
    val uniq = spark.sql(widened(GrafanaDashboards.Forensic.panels(2).sparkSql))
      .collect().head.getLong(0)
    val uniqDirect = spark.table("dmarc_forensic_reports")
      .select("reported_domain").distinct().count()
    assert(uniq == uniqDirect && uniq > 0)
  }

  test("writeAll emits three artifacts that parse and keep the reference key shape") {
    assumeReference()
    val dir = java.nio.file.Files.createTempDirectory("grafana").toString
    GrafanaDashboards.writeAll(dir)
    for (f <- Seq("dashboard-dmarc-overview.json", "dashboard-dmarc-forensic.json", "datasource.json")) {
      val j = JsonMethods.parse(java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, f)))
      assert(j != JNothing, f)
    }
    // emitted dashboards re-parse with the same panel structure
    val ours = JsonMethods.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "dashboard-dmarc-overview.json")))
    assert(panelsOf(ours).size == GrafanaDashboards.Overview.panels.size)
    // datasource: key-for-key shape parity with the reference's
    val refKeys = refDashboard("datasource.json").asInstanceOf[JObject].obj.map(_._1).toSet
    val ourDs = JsonMethods.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "datasource.json"))).asInstanceOf[JObject]
    assert(ourDs.obj.map(_._1).toSet == refKeys)
    val refJson = (refDashboard("datasource.json") \ "jsonData").asInstanceOf[JObject].obj.map(_._1).toSet
    assert((ourDs \ "jsonData").asInstanceOf[JObject].obj.map(_._1).toSet == refJson)
  }
}
