package graft.operators

import graft.Tables
import graft.functions.NetFunctions._
import org.apache.spark.sql.functions._

/** Oracle-checked queries exercising the enrichment functions on derived
  * hostname / IP columns (testdata has no hostname column, so both
  * engines build identical inputs from nation/customer keys).
  */
object Enrichment extends QueryModule {

  override def entries: Seq[QueryDef] = Seq(
    QueryDef(
      "f_base_domain",
      (s, dir) => {
        val n = Tables(s, dir).nation
        val key = col("n_nationkey")
        val host = when(key % 5 === 0, concat(lit("mail.sub"), key, lit(".example.com")))
          .when(key % 5 === 1, concat(lit("e"), key, lit(".c.akamaiedge.net")))
          .when(key % 5 === 2, concat(lit("d"), key, lit(".cloudfront.net")))
          .when(key % 5 === 3, lit("example.com"))
          .otherwise(lit("localhost"))
        n.select(key, host.as("host"))
          .withColumn("base_domain", baseDomain(col("host")))
          .orderBy("n_nationkey")
      },
      Some {
        val hostSql =
          """CASE WHEN n_nationkey % 5 = 0 THEN 'mail.sub' || CAST(n_nationkey AS VARCHAR) || '.example.com'
            |WHEN n_nationkey % 5 = 1 THEN 'e' || CAST(n_nationkey AS VARCHAR) || '.c.akamaiedge.net'
            |WHEN n_nationkey % 5 = 2 THEN 'd' || CAST(n_nationkey AS VARCHAR) || '.cloudfront.net'
            |WHEN n_nationkey % 5 = 3 THEN 'example.com'
            |ELSE 'localhost' END""".stripMargin
        s"""SELECT n_nationkey, host, ${baseDomainSqlDuck("host")} AS base_domain
           |FROM (SELECT n_nationkey, $hostSql AS host FROM nation)
           |ORDER BY n_nationkey""".stripMargin
      },
    ),
    // the normalization battery (utils.go NormalizeHost/NormalizeEmail +
    // IsValidIPAddress) under the hash gate: messy inputs derived from
    // nation keys — mixed case, trailing dots, padding whitespace, IPv4
    // and compressed IPv6 — normalized identically in both engines. The
    // regex constants are SHARED Scala values injected into the oracle
    // text, so the two sides cannot drift.
    QueryDef(
      "f_normalize",
      (s, dir) => {
        val n = Tables(s, dir).nation
        val key = col("n_nationkey")
        val raw = when(key % 4 === 0, concat(lit("Mail.Example"), key, lit(".COM.")))
          .when(key % 4 === 1, concat(lit("  User"), key, lit("@EXAMPLE.ORG ")))
          .when(key % 4 === 2,
            concat(lit("10."), (key % 256).cast("string"), lit(".2.3")))
          .otherwise(concat(lit("fe80::"), key.cast("string")))
        n.select(key, raw.as("raw"))
          .withColumn("norm_host", normalizeHost(col("raw")))
          .withColumn("norm_email", normalizeEmail(col("raw")))
          .withColumn("valid_ip", isValidIp(col("raw")))
          .orderBy("n_nationkey")
      },
      Some {
        val rawSql =
          """CASE WHEN n_nationkey % 4 = 0 THEN 'Mail.Example' || CAST(n_nationkey AS VARCHAR) || '.COM.'
            |WHEN n_nationkey % 4 = 1 THEN '  User' || CAST(n_nationkey AS VARCHAR) || '@EXAMPLE.ORG '
            |WHEN n_nationkey % 4 = 2 THEN '10.' || CAST(n_nationkey % 256 AS VARCHAR) || '.2.3'
            |ELSE 'fe80::' || CAST(n_nationkey AS VARCHAR) END""".stripMargin
        s"""SELECT n_nationkey, raw,
           |regexp_replace(lower(raw), '\\.$$', '') AS norm_host,
           |lower(trim(raw)) AS norm_email,
           |(regexp_matches(raw, '${Ipv4Regex}')
           |  OR (regexp_matches(raw, '^([0-9a-fA-F]{0,4}:){2,7}[0-9a-fA-F]{0,4}$$')
           |      AND contains(raw, ':'))) AS valid_ip
           |FROM (SELECT n_nationkey, $rawSql AS raw FROM nation)
           |ORDER BY n_nationkey""".stripMargin
      },
    ),
    // geo/rDNS enrichment end-to-end: deterministic IPv4s derived from
    // events.user_id → broadcast fixture lookup → top-countries panel
    // (overview p5, the panel that is always empty on "Unknown" stubs)
    QueryDef(
      "q_top_countries",
      (s, dir) => {
        val e = Tables(s, dir).events
        val ip = concat(((col("user_id") % 223) + 1).cast("string"), lit("."),
                        ((col("user_id") * 7) % 256).cast("string"), lit("."),
                        ((col("user_id") * 13) % 256).cast("string"), lit("."),
                        ((col("user_id") % 251) + 1).cast("string"))
        val enriched = graft.functions.GeoEnrichment.enrich(
          e.select(col("user_id"), ip.as("ip")), "ip")
        enriched.filter(col("source_country") =!= "Unknown")
          .groupBy("source_country")
          .agg(count(lit(1)).as("messages"),
               countDistinct(col("source_base_domain")).as("n_zones"))
          .orderBy(desc("messages"), asc("source_country"))
      },
      Some(s"""WITH ips AS (SELECT user_id % 223 + 1 AS o1,
              |  CAST(user_id % 223 + 1 AS VARCHAR) || '.' ||
              |  CAST(user_id * 7 % 256 AS VARCHAR) || '.' ||
              |  CAST(user_id * 13 % 256 AS VARCHAR) || '.' ||
              |  CAST(user_id % 251 + 1 AS VARCHAR) AS ip FROM events),
              |geo(octet1, country, zone) AS (VALUES ${graft.functions.GeoEnrichment.sqlValues}),
              |e AS (SELECT country,
              |  'host-' || replace(ip, '.', '-') || '.' || zone AS rdns
              |  FROM ips JOIN geo ON o1 = octet1)
              |SELECT country AS source_country, COUNT(*) AS messages,
              |COUNT(DISTINCT ${baseDomainSqlDuck("rdns")}) AS n_zones
              |FROM e GROUP BY 1 ORDER BY messages DESC, source_country""".stripMargin),
    ),
    // forensic twin of q_top_countries: a forensic-shaped frame (nested
    // SourceInfo struct) built from events goes through
    // GeoEnrichment.enrichForensic — the same struct-rebuild path
    // DmarcReader.enrichedForensic uses — then the forensic dashboard's
    // Top Source Countries panel aggregation
    QueryDef(
      "q_top_countries_forensic",
      (s, dir) => {
        val e = Tables(s, dir).events
        val ip = concat(((col("user_id") % 223) + 1).cast("string"), lit("."),
                        ((col("user_id") * 7) % 256).cast("string"), lit("."),
                        ((col("user_id") * 13) % 256).cast("string"), lit("."),
                        ((col("user_id") % 251) + 1).cast("string"))
        val forensicShaped = e.select(
          struct(ip.as("ipAddress"), lit("Unknown").as("country"),
                 lit("").as("reverseDns"), lit("").as("baseDomain"),
                 lit("").as("name"), lit("").as("sourceType")).as("source"),
          concat(lit("domain"), (col("user_id") % 20).cast("string"),
                 lit(".example.com")).as("reportedDomain"))
        val enriched = graft.functions.GeoEnrichment.enrichForensic(forensicShaped)
        enriched.filter(col("source.country") =!= "Unknown")
          .groupBy(col("source.country").as("country"))
          .agg(count(lit(1)).as("report_count"),
               countDistinct(col("reportedDomain")).as("unique_domains"),
               countDistinct(col("source.ipAddress")).as("unique_ips"))
          .orderBy(desc("report_count"), asc("country"))
      },
      Some(s"""WITH ips AS (SELECT user_id % 223 + 1 AS o1,
              |  CAST(user_id % 223 + 1 AS VARCHAR) || '.' ||
              |  CAST(user_id * 7 % 256 AS VARCHAR) || '.' ||
              |  CAST(user_id * 13 % 256 AS VARCHAR) || '.' ||
              |  CAST(user_id % 251 + 1 AS VARCHAR) AS ip,
              |  'domain' || CAST(user_id % 20 AS VARCHAR) || '.example.com' AS dom
              |  FROM events),
              |geo(octet1, country, zone) AS (VALUES ${graft.functions.GeoEnrichment.sqlValues}),
              |e AS (SELECT country, ip, dom FROM ips JOIN geo ON o1 = octet1)
              |SELECT country, COUNT(*) AS report_count,
              |COUNT(DISTINCT dom) AS unique_domains,
              |COUNT(DISTINCT ip) AS unique_ips
              |FROM e GROUP BY 1 ORDER BY report_count DESC, country""".stripMargin),
    ),
    // protocol-true reverse DNS (utils.go:74-118 GetReverseDNS): an
    // in-process UDP DNS server answers PTR queries for the shared
    // synthetic zone, and sources.DnsPtr runs the reference's lookup
    // loop — reverse-name build, RFC 1035 wire encoding, per-server
    // timeout failover, compression-pointer decode — over REAL
    // datagrams for every distinct source IP in the parsed sample
    // corpus (bounded by construction: distinct sources ≪ records,
    // the same cardinality the reference resolves online). Resolution
    // is eager inside the query (IMAP-entry lifecycle) so the server
    // can close before the frame is consumed. The oracle recomputes
    // the hostnames from the snapshot IP list + fixture VALUES — the
    // hash gate holds the whole wire path to the formula.
    QueryDef(
      "f_rdns_ptr",
      (s, _) => {
        val ips = graft.sources.DmarcReader
          .aggregateRecords(s, s"${DmarcIngest.samples(s)}/aggregate").toDF()
          .select(col("source_ip_address")).distinct()
          .collect().map(_.getString(0)).sorted
        val server = new graft.sources.InMemoryDns(graft.sources.InMemoryDns.fixtureZone)
        val resolved =
          try {
            val cfg = graft.sources.DnsPtr.DnsConfig(Seq(("127.0.0.1", server.port)))
            ips.toIndexedSeq.map(ip =>
              (ip, graft.sources.DnsPtr.lookup(ip, cfg).getOrElse("")))
          } finally server.close()
        import s.implicits._
        resolved.toDF("source_ip_address", "rdns")
          .orderBy("source_ip_address")
      },
      Some(s"""WITH flat AS (${graft.api.ParseSnapshots.resourceSql("p_records_flatten")}),
              |ips AS (SELECT DISTINCT source_ip_address AS ip FROM flat),
              |geo(octet1, country, zone) AS (VALUES ${graft.functions.GeoEnrichment.sqlValues})
              |SELECT ip AS source_ip_address,
              |COALESCE('host-' || replace(ip, '.', '-') || '.' || zone, '') AS rdns
              |FROM ips LEFT JOIN geo
              |  ON TRY_CAST(split_part(ip, '.', 1) AS INT) = octet1
              |ORDER BY source_ip_address""".stripMargin),
    ),
    // protocol-true GeoIP: the reference opens a MaxMind .mmdb through
    // geoip2 (utils.go:42 Open + db.City). Here the REAL binary format
    // is on the wire end to end: MmdbFixture writes a spec-true v2.0
    // file (24-bit search tree, separator, pointer-compressed data
    // section, metadata marker) from the shared geo fixture, the bytes
    // broadcast once, each partition opens functions.MaxMindDb and
    // walks the search tree per IP — the production MaxMind-on-Spark
    // shape (no shuffle except the final aggregate). The DuckDB oracle
    // recomputes from the fixture VALUES, so the hash gate holds the
    // tree walk, pointer decode, and City field path to the formula.
    QueryDef(
      "f_geoip_mmdb",
      (s, dir) => {
        val e = Tables(s, dir).events
        val ip = concat(((col("user_id") % 223) + 1).cast("string"), lit("."),
                        ((col("user_id") * 7) % 256).cast("string"), lit("."),
                        ((col("user_id") * 13) % 256).cast("string"), lit("."),
                        ((col("user_id") % 251) + 1).cast("string"))
        val bc = s.sparkContext.broadcast(graft.sources.MmdbFixture.fromGeoFixture())
        val rdd = e.select(ip.as("ip")).rdd.mapPartitions { it =>
          val db = graft.functions.MaxMindDb.open(bc.value)
            .fold(m => throw new IllegalStateException(s"bad mmdb fixture: $m"), identity)
          it.flatMap { r =>
            db.lookupCity(r.getString(0))
              .map(g => org.apache.spark.sql.Row(g.country, g.city))
          }
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("source_country",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("source_city",
            org.apache.spark.sql.types.StringType)))
        s.createDataFrame(rdd, schema)
          .groupBy("source_country", "source_city")
          .agg(count(lit(1)).as("messages"))
          .orderBy("source_country", "source_city")
      },
      Some(s"""WITH ips AS (SELECT user_id % 223 + 1 AS o1 FROM events),
              |geo(octet1, country, zone) AS (VALUES ${graft.functions.GeoEnrichment.sqlValues}),
              |e AS (SELECT country,
              |  country || '-' || split_part(zone, '.', 1) AS city
              |  FROM ips JOIN geo ON o1 = octet1)
              |SELECT country AS source_country, city AS source_city,
              |COUNT(*) AS messages
              |FROM e GROUP BY 1, 2 ORDER BY source_country, source_city""".stripMargin),
    ),
    QueryDef(
      "f_is_valid_ip",
      (s, dir) => {
        val c = Tables(s, dir).customer
        val ip = concat((col("c_custkey") * 7 % 300).cast("string"), lit("."),
                        (col("c_nationkey") * 13 % 300).cast("string"), lit(".10.1"))
        c.select(ip.as("ip"))
          .agg(sum(when(isValidIpv4(col("ip")), 1L).otherwise(0L)).as("n_valid"),
               sum(when(isValidIpv4(col("ip")), 0L).otherwise(1L)).as("n_invalid"))
      },
      Some(s"""SELECT
              |CAST(SUM(CASE WHEN regexp_matches(ip, '${graft.functions.NetFunctions.Ipv4Regex}') THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
              |CAST(SUM(CASE WHEN regexp_matches(ip, '${graft.functions.NetFunctions.Ipv4Regex}') THEN 0 ELSE 1 END) AS BIGINT) AS n_invalid
              |FROM (SELECT CAST(c_custkey * 7 % 300 AS VARCHAR) || '.' ||
              |             CAST(c_nationkey * 13 % 300 AS VARCHAR) || '.10.1' AS ip
              |      FROM customer)""".stripMargin),
    ),
  )
}
