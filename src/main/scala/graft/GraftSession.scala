package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Normalization of the `events.ts` column to a session-UTC TimestampType,
  * whatever physical contract the parquet files ship.
  *
  * The driver has generated `events.ts` under two contracts so far:
  * TIMESTAMP(NANOS) (no Spark native type → read as raw int64 via
  * `spark.sql.legacy.parquet.nanosAsLong`) and TIMESTAMP(MICROS) with
  * isAdjustedToUTC=false (→ TIMESTAMP_NTZ). Hard-coding either one means a
  * regeneration zeroes every events-family operator at once — so the loader
  * branches on the dtype that is actually on disk, and anything outside the
  * supported set fails with ONE actionable message instead of dozens of
  * identical analysis exceptions downstream.
  */
object EventTime {
  /** Human-readable list for the drift error message. */
  val supported: String =
    "BIGINT (nanos-as-long), TIMESTAMP_NTZ (micros, no tz), TIMESTAMP"

  /** Adapt `ts` to TimestampType (micros, session tz = UTC). */
  def normalizeTs(df: DataFrame, source: String): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      // old contract: TIMESTAMP(NANOS) surfaced as a raw nanosecond long
      // (nanosAsLong); floor-divide to micros — same floor DuckDB applies
      // casting ns → us (ts is post-1970 so div is a floor).
      case Some(LongType) =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      // current contract: TIMESTAMP(MICROS), isAdjustedToUTC=false. The
      // session timezone is UTC, so reinterpreting the wall-clock value as
      // an instant preserves the micros exactly.
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case Some(TimestampType) => df
      case other =>
        throw new IllegalStateException(
          s"events testdata contract drift: $source has ts dtype " +
            s"${other.map(_.sql).getOrElse("<missing>")}; supported: $supported. " +
            "Update graft.EventTime.normalizeTs for the new generation.")
    }

  /** True iff `normalizeTs` knows how to adapt this dtype. */
  def isSupported(dt: DataType): Boolean =
    dt == LongType || dt == TimestampNTZType || dt == TimestampType
}

/** Session factory with the engine's standard configuration.
  *
  * Mirrors the deployment posture of the reference's ClickHouse backend
  * (/root/reference/internal/storage/clickhouse/clickhouse.go:79-228):
  * month-partitioned, sort-keyed fact tables. On Spark that translates to
  * AQE + partition-pruning-friendly reads; task slots and shuffle
  * partitions both come from `SPARK_GRAFT_CPUS` so the same binary works
  * on local[4], local[32] and on a cluster. Spark's generated-class cache
  * holds [[CodegenCacheEntries]] classes, graft's whole working set, so a
  * warm session runs Janino once per distinct generated class.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** `spark.sql.codegen.cache.maxEntries` (Spark's default: 100). Spark
    * sizes its one generated-class cache per JVM, from the session active
    * at the first code generation. The cache is an LRU keyed by class
    * loader and generated source, so a working set past its size misses
    * on every lookup and each warm pass re-runs Janino and the JIT on
    * every class. Measured Janino compilations (4 CPUs; one cache entry
    * per class loader and source, so a class is compiled once for the
    * driver and once for the executor threads):
    *  - DMARC ingest → five tables → CSV: ≈56 in a whole session, under
    *    the default, so a warm pass compiles none at either size;
    *  - `prepareWeb` + `containmentProbePairs`: ≈270–314 a pass. At 100
    *    entries every warm pass recompiled ≈270–303 of them; at 2,000 a
    *    warm pass compiles none, and web_prepare's cpu_ms_per_item drops
    *    by about a quarter;
    *  - a full `graft.Verify` sf0.01 sweep: 2,926 with no limit, 3,042 at
    *    2,000, 6,497 at 100. The sweep runs each entry once, so the 116
    *    it recompiles at 2,000 were evicted after their last use.
    * Generated classes average ≈2.6 KB of bytecode, the largest ≈38 KB.
    *
    * The cache key is the generated source, so whole-stage classes are
    * named without their codegen stage id
    * (`spark.sql.codegen.useIdInClassName=false`): AQE numbers stages in
    * creation order, which follows task timing, and identical code under
    * a new number would miss. Measured on warm web runs in one Spark
    * session (4 CPUs): 0.67 compilations a run with the stage id left
    * out, 4.7 with it in.
    */
  val CodegenCacheEntries = 2000

  /** Runs `body` with `label` as the description of every Spark job it
    * submits from this thread, so Spark's event log and listeners
    * attribute those jobs to `label`; the caller's description is
    * restored on return. The job group is left as the caller set it.
    */
  def described[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prev)
  }

  def build(appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // File-listing task sizing (r17, measured): Spark's default
      // parallelPartitionDiscovery.parallelism (10000) turns an N-path
      // listing into min(N, 10000) tasks of ONE file-stat each — the
      // 5000-file media drop dir cost 8.9 s of pure task-scheduling
      // overhead per streaming micro-batch (vs 0.22 s below). Bound the
      // listing to 4× core count so each task stats a BATCH of paths —
      // the fewer-larger-tasks shape that also holds on a cluster, where
      // a million-file listing at 10000 single-digit-millisecond tasks
      // is scheduler-bound exactly the same way. Derived from the same
      // env knob as every other parallelism setting.
      .config("spark.sql.sources.parallelPartitionDiscovery.parallelism",
        math.max(64, 4 * cpus.toIntOption.getOrElse(16)).toString)
      // Older testdata generations carry events.ts as TIMESTAMP(NANOS),
      // which Spark has no native type for; this conf reads that as raw
      // int64 (harmless for micros files) and EventTime.normalizeTs adapts
      // whichever dtype actually arrives.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
      // Permissions set in process, not by a `chmod` process per written
      // file, `.crc` file and directory: a dmarc_ingest benchmark run
      // started 1,435 processes (1,429 of them `chmod`) before, 6 after.
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Lazy handles on the driver-generated test tables for one scale factor.
  * All operators take these as inputs; nothing reads paths directly.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  lazy val region: DataFrame     = table("region")
  lazy val nation: DataFrame     = table("nation")
  lazy val customer: DataFrame   = table("customer")
  lazy val supplier: DataFrame   = table("supplier")
  lazy val part: DataFrame       = table("part")
  // NOT widened here (r16, measured): a blanket Par.widen on the fact
  // tables helps pure scan→aggregate shapes (q1 1.21 → 0.66 s) but
  // REGRESSES broadcast-join probes by more (q3 0.80 → 1.13, q5
  // 0.79 → 1.17 s at sf0.1) — the round-robin exchange costs more
  // than the parallelism buys when the scan side streams through
  // broadcast joins. Scan-heavy aggregate entries widen individually
  // at their own filter output instead (q1, q6).
  lazy val orders: DataFrame     = table("orders")
  lazy val lineitem: DataFrame   = table("lineitem")
  /** events.ts normalized to TimestampType whatever parquet contract the
    * current testdata generation ships — see [[EventTime.normalizeTs]].
    */
  lazy val events: DataFrame =
    EventTime.normalizeTs(table("events"), s"$dir/events.parquet")
  lazy val documents: DataFrame  = table("documents")
  lazy val embeddings: DataFrame = table("embeddings")
}
