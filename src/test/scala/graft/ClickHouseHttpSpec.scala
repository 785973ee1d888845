package graft

import graft.sources.{ClickHouseHttp, DmarcReader, InMemoryClickHouse, OutputWriters}
import org.json4s._

/** ClickHouse HTTP storage twin: the client's DDL + per-partition
  * JSONEachRow inserts + readback against the in-process server, value
  * parity with the parsed sample corpus, serialization forms
  * (DateTime/UInt8/arrays/Nullable), and the error surface (unknown
  * table, unsupported statement must THROW, not vanish).
  */
class ClickHouseHttpSpec extends SparkSpec {

  private def withServer[A](f: String => A): A = {
    val s = new InMemoryClickHouse()
    try f(s"http://127.0.0.1:${s.port}") finally s.close()
  }

  test("five reference DDLs create the five tables") {
    val s = new InMemoryClickHouse()
    try {
      ClickHouseHttp.createTables(s"http://127.0.0.1:${s.port}")
      assert(s.tableNames.toSet == Set(
        "dmarc_aggregate_reports", "dmarc_aggregate_records",
        "dmarc_forensic_reports", "dmarc_smtp_tls_reports",
        "dmarc_smtp_tls_failures"))
    } finally s.close()
  }

  test("records round-trip the wire: counts, per-row fields, DateTime form") {
    withServer { base =>
      ClickHouseHttp.createTables(base)
      val records = DmarcReader.enrichedRecords(spark, s"${DmarcFixtures.Root}/aggregate")
      ClickHouseHttp.insertDataFrame(base, "dmarc_aggregate_records", records)
      val n = records.count()
      assert(ClickHouseHttp.count(base, "dmarc_aggregate_records") == n)
      val back = ClickHouseHttp.selectAll(base, "dmarc_aggregate_records")
      assert(back.size == n)
      // value parity: sum of count over the wire == DataFrame sum
      val wireSum = back.map(r => (r \ "count") match {
        case JInt(v) => v.toLong
        case JLong(v) => v
        case _ => fail("count missing")
      }).sum
      val dfSum = records.agg(org.apache.spark.sql.functions.sum("count"))
        .collect().head.getLong(0)
      assert(wireSum == dfSum)
      // DateTime serialized in ClickHouse's "yyyy-MM-dd HH:mm:ss" form
      val JString(ts) = back.head \ "begin_date"
      assert(ts.matches("""\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"""), ts)
      // UInt8 booleans as 0/1
      assert(back.forall(r => (r \ "dmarc_aligned") match {
        case JInt(v) => v == 0 || v == 1
        case _ => false
      }))
      // arrays as JSON arrays
      assert(back.exists(r => (r \ "dkim_results") match {
        case JArray(xs) => xs.nonEmpty
        case _ => false
      }))
    }
  }

  test("batching: partitioned insert with tiny batches lands every row exactly once") {
    withServer { base =>
      ClickHouseHttp.exec(base, "CREATE TABLE IF NOT EXISTS t (x String) ENGINE = MergeTree() ORDER BY x")
      import spark.implicits._
      val df = (1 to 137).map(i => s"v$i").toDF("x").repartition(7)
      ClickHouseHttp.insertDataFrame(base, "t", df, batchRows = 10)
      val back = ClickHouseHttp.selectAll(base, "t")
        .map(r => { val JString(x) = r \ "x"; x })
      assert(back.sorted == (1 to 137).map(i => s"v$i").sorted)
    }
  }

  test("nullable columns travel as JSON null and survive readback") {
    withServer { base =>
      ClickHouseHttp.createTables(base)
      val reports = DmarcReader.aggregateReports(spark, s"${DmarcFixtures.Root}/aggregate")
      ClickHouseHttp.insertDataFrame(base, "dmarc_aggregate_reports",
        OutputWriters.reportsTableLayout(reports))
      val back = ClickHouseHttp.selectAll(base, "dmarc_aggregate_reports")
      assert(back.size == reports.count())
      // org_extra_contact_info is Nullable(String): both forms appear
      assert(back.exists(r => (r \ "org_extra_contact_info") == JNull) ||
        back.forall(r => (r \ "org_extra_contact_info") != JNothing))
    }
  }

  test("insert into a missing table and unsupported SQL throw (reference error surface)") {
    withServer { base =>
      import spark.implicits._
      val df = Seq("a").toDF("x")
      intercept[org.apache.spark.SparkException] {
        ClickHouseHttp.insertDataFrame(base, "no_such_table", df)
      }
      intercept[java.io.IOException] {
        ClickHouseHttp.exec(base, "OPTIMIZE TABLE whatever FINAL")
      }
    }
  }

  test("ping answers Ok. (health-check parity with the real server)") {
    val s = new InMemoryClickHouse()
    try {
      val conn = new java.net.URI(s"http://127.0.0.1:${s.port}/ping")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(new String(conn.getInputStream.readAllBytes(), "UTF-8") == "Ok.\n")
      conn.disconnect()
    } finally s.close()
  }
}
