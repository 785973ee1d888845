package dmarcbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see run.py, which builds the inputs
  * and starts this JVM).
  */
final case class Opts(workload: String, seed: Long, passes: Int, trace: Boolean,
                      inputs: String, work: String)

/** Fields of one run's result document, in insertion order. */
final class Result {
  val fields = mutable.LinkedHashMap.empty[String, Any]
  def update(k: String, v: Any): Unit = fields(k) = v
  /** one attempted operation; a thrown exception counts as a failure */
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        None
    }
  }
  /** one output check, counted like an operation */
  def check(what: String)(ok: => Boolean): Unit =
    op(what)(ok) match {
      case Some(false) => failed += 1; errors += s"check failed: $what"
      case _ => ()
    }
}

object Harness {

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("passes").toInt,
      kv("trace") == "1", kv("inputs"), kv("work"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.build("dmarcbench")
    val res = new Result
    res("session_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark.sparkContext, s"${o.workload}-${o.seed}", o.trace)
    try {
      o.workload match {
        case "dmarc_ingest" => IngestWorkload.run(spark, o, tracer, res)
        case "dmarc_dashboard" => DashboardWorkload.run(spark, o, tracer, res)
        case "web_prepare" => WebWorkload.run(spark, o, tracer, res)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Exception =>
        res.failed += 1
        res.errors += s"run: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        e.printStackTrace()
    }
    res("context") = Host.context(spark)
    res("window_start_ms") = windowStartMs
    res("pass_cpu_s") = passCpuS.toSeq
    res("peak_rss_mb") = Host.peakRssMb
    res("attempted") = res.attempted
    res("failed") = res.failed
    res("errors") = res.errors.toSeq
    if (o.trace) tracer.write(Paths.get(o.work, "spans.jsonl"))
    Files.write(Paths.get(o.work, "result.json"),
      (Json.obj(res.fields.toSeq) + "\n").getBytes("UTF-8"))
    spark.stop()
  }

  /** wall-clock start of the first timed window: the end of set-up */
  @volatile var windowStartMs = 0L
  /** the all-CPU canary just before the first timed window */
  @volatile var canaryBeforeMs = 0.0

  /** CPU seconds (all threads of this JVM) of each pass of the timed
    * window: unlike wall time, not inflated by time the host gives to
    * other processes or steals for other machines
    */
  val passCpuS = mutable.ArrayBuffer.empty[Double]

  private def processCpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Runs `pass` `passes` times (at least once); returns each pass's
    * wall time in seconds with its result, and records its CPU time in
    * [[passCpuS]]. Every pass starts from a collected heap, so that
    * garbage and cached blocks left by the previous pass are not charged
    * to the next one.
    */
  def window[T](passes: Int)(pass: Int => T): Seq[(Double, T)] = {
    val out = mutable.ArrayBuffer.empty[(Double, T)]
    if (windowStartMs == 0L) {
      canaryBeforeMs = Host.cpuCanaryParallelMs
      windowStartMs = System.currentTimeMillis()
    }
    while (out.size < math.max(1, passes)) {
      System.gc()
      val c0 = processCpuS
      val t0 = System.nanoTime()
      val r = pass(out.size)
      out += (((System.nanoTime() - t0) / 1e9, r))
      passCpuS += processCpuS - c0
    }
    out.toSeq
  }

  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally st.close()
    }

  /** (data files, bytes) under a table or export directory */
  def dataFiles(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val st = Files.walk(p)
      try {
        val fs = st.filter(f => Files.isRegularFile(f) && {
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }).toArray.map(_.asInstanceOf[Path])
        (fs.length.toLong, fs.map(Files.size).sum)
      } finally st.close()
    }
  }
}

/** Host and session context, recorded with every run so that a contended
  * run can be told apart from a slow program.
  */
object Host {
  private def procStat(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.exists(f)) (0L, 0L)
    else {
      val cpu = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (cpu.sum, if (cpu.length > 7) cpu(7) else 0L)
    }
  }
  private val statAtStart = procStat()

  def loadavg: Double = {
    val f = Paths.get("/proc/loadavg")
    if (Files.exists(f)) new String(Files.readAllBytes(f)).split(" ")(0).toDouble else -1.0
  }

  @volatile private var sink = 0L

  /** A fixed integer mix, the unit of the CPU canaries. */
  private def mix(): Unit = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink += x
  }

  private def bestMs(reps: Int)(body: => Unit): Double = (1 to reps).map { _ =>
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }.min

  /** Single-thread CPU canary: ms for one mix, best of 5. */
  def cpuCanaryMs: Double = bestMs(5)(mix())

  /** The mix on every CPU at once, best of 3: contention from outside the
    * process slows parallel work more than the single-thread canary shows.
    */
  def cpuCanaryParallelMs: Double = bestMs(3) {
    val ts = (1 to Runtime.getRuntime.availableProcessors).map(_ => new Thread(() => mix()))
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  def peakRssMb: Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) -1.0
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    }
  }

  def context(spark: SparkSession): Map[String, Any] = {
    val (tot, steal) = procStat()
    val dt = tot - statAtStart._1
    Map(
      "graft_cpus" -> graft.GraftSession.cpus,
      "jvm_processors" -> Runtime.getRuntime.availableProcessors,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "loadavg_1m" -> loadavg,
      "steal_pct" -> (if (dt > 0) 100.0 * (steal - statAtStart._2) / dt else 0.0),
      "cpu_canary_ms" -> cpuCanaryMs,
      "cpu_canary_parallel_ms" -> cpuCanaryParallelMs,
      "cpu_canary_parallel_before_ms" -> Harness.canaryBeforeMs,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
  }
}
