package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark main: headline queries (SURVEY §6) at the driver-selected
  * scale factor, one JSON line to stdout.
  */
object Bench {

  /** Representative slice: wide-scan agg, join+topN, star join, time
    * bucketing, join+rate table, window sessionization, LSH dedup,
    * vector top-k, plus the two newest scale mechanisms — the
    * band-join optimizer rewrite and the salted replicated join — so a
    * regression in either shows up as seconds, not only in plan specs.
    *
    * The set was FROZEN from r6 through r11; r12 adds the two surfaces
    * where most new code lands and regressions were previously
    * invisible between rounds: the full LLM web-corpus composite
    * (d_web_pipeline — WARC → robots/URL → filter battery → dedup with
    * keep-best → ccnet → split/pack) and a real media decode
    * (m_jpeg_pixels). Cross-round totals compare on `legacy_total`
    * (the frozen 11-query subset); `value` covers the full set.
    */
  val LegacyHeadline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q_daily_volume", "q_org_compliance", "q_sessionize",
    "d_minhash_lsh", "d_minhash_lsh_fast", "s_cosine_topk",
    "q_band_join_auto", "q_skew_join_salted",
  )

  /** r12 added the two surfaces above; r14 adds the two heaviest r13
    * operators (t_quality_model, d_containment_probe) so they get
    * round-over-round tracking like d_web_pipeline got in r12.
    * legacy_total stays the frozen 11-query subset. The r16 three-arm
    * composite (d_web_pipeline_full) is deliberately NOT a bench
    * column: the registry entry is the ORACLE-path shape (md5
    * signatures + minted substr/eval fixtures), so a bench column
    * would track oracle-fixture cost, not the product; the production
    * composite is tracked by the d_web_pipeline_full_fast scale cells
    * (1×–1000×) instead.
    */
  val Headline: Seq[String] =
    LegacyHeadline ++ Seq("d_web_pipeline", "m_jpeg_pixels",
      "t_quality_model", "d_containment_probe")

  /** Single-thread CPU canary: a fixed, data-independent integer-mix
    * loop (xxhash-style avalanche over 1 << 22 iterations) timed on one
    * thread. Round-over-round bench totals have swung 40%+ on identical
    * code and identical data (r9 7.5 s → r10/r11 ~10.9 s, uniform
    * across every query incl. ones untouched for five rounds) — the
    * signature of a slower HOST, not a slower plan. The canary makes
    * that directly measurable: compare `canary_sec` across rounds
    * before reading anything into the query columns.
    */
  private def cpuCanary(): Double = {
    var acc = 0x9E3779B97F4A7C15L
    // untimed warm pass so JIT compiles the loop before measurement
    var w = 0
    while (w < (1 << 20)) { acc ^= acc >>> 33; acc *= 0xFF51AFD7ED558CCDL; w += 1 }
    val t0 = System.nanoTime()
    var i = 0
    while (i < (1 << 22)) {
      acc ^= acc >>> 33; acc *= 0xFF51AFD7ED558CCDL
      acc ^= acc >>> 29; acc *= 0xC4CEB9FE1A85EC53L
      i += 1
    }
    val sec = (System.nanoTime() - t0) / 1e9
    if (acc == 42L) println(acc) // defeat dead-code elimination
    sec
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-bench")
    val queries = SparkEntry.queries
    // Measurement window (r16): the same forced count+hash frame the
    // scale artifact adopted in r15 — count() windows let the optimizer
    // prune real work (d_keep_best's 1000× cell read 328.6 s under
    // count() and 1782.4 s under the forced frame; t_quality_model's
    // scoring projection collapses to a metadata count-star).
    def run(df: org.apache.spark.sql.DataFrame): Unit = {
      ScaleDemo.forcedFrame(df).head(); ()
    }
    // JVM+Spark warmup on the smallest SF so steady-state throughput is
    // measured, not first-call codegen/classloading. Guarded per query:
    // one broken query must degrade that query's samples to the -1
    // sentinel below, not zero the whole bench artifact.
    Headline.foreach { n =>
      try run(queries(n)(spark, "/root/testdata/sf0.001"))
      catch { case scala.util.control.NonFatal(_) => () }
    }
    // Timed passes are INTERLEAVED round-robin (pass 1 of every query,
    // then pass 2, ...): back-to-back passes let one sustained co-tenant
    // load burst poison every sample of a single query and survive any
    // per-query statistic (observed: one LSH variant recording a phantom
    // 5× while its neighbors measured clean). Interleaving spreads each
    // query's samples across the whole bench window, so a burst degrades
    // at most one sample per query.
    //
    // Load robustness (the r05 lesson: 8.4 s quiet vs 15.75 s at
    // loadavg 12.7 for identical code): each pass records the 1-minute
    // loadavg at its start; if any of the 3 base passes started above
    // the threshold, up to 2 EXTRA passes run — more samples taken
    // under lighter load. The per-query value is the MIN of its
    // samples: co-tenant interference only ever ADDS time, so min is
    // the statistic that estimates the code, not the neighbors.
    // Medians are still emitted for cross-checking.
    def loadNow(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")(0).toDouble
      catch { case scala.util.control.NonFatal(_) => 0.0 }
    // Hypervisor steal across the bench window: in a VM, host-side CPU
    // contention is INVISIBLE to guest loadavg (the r11 finding: totals
    // swung 10.9 → 14.0 s between back-to-back runs at guest load ~4).
    // /proc/stat field 8 counts ticks the hypervisor ran someone else
    // while this guest was runnable — the direct measurement.
    def statTicks(): (Long, Long) =
      try {
        val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
          .trim.split("\\s+").drop(1).map(_.toLong)
        (f.lift(7).getOrElse(0L), f.sum)
      } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }
    val (steal0, total0) = statTicks()
    val maxLoad = sys.env.get("GRAFT_BENCH_MAX_LOAD").flatMap(_.toDoubleOption).getOrElse(8.0)
    // 5 base passes always (was 3 + up to 2 load-gated extras): r13's
    // 3-pass mins ran 6–17% over r12's 5-pass mins on UNTOUCHED code —
    // min-of-5 is the stable cross-round statistic, so take 5
    // unconditionally and keep 2 extra load-gated passes on top
    val BasePasses = 5
    val MaxPasses = 7
    // Per-pass canary + steal (the r14 lesson made self-adjudicating:
    // the driver's r14 artifact burned at steal 2.05% while the
    // committed same-code run sat at 0.04%, and the adjudication had to
    // be done by hand across artifacts). Each pass records its own
    // canary_sec and its own /proc/stat steal window; min-selection then
    // PREFERS samples from clean passes (steal below StealGatePct) so
    // one contended window cannot set any query's headline number when a
    // clean window exists. If no pass is clean, min falls back to all
    // samples and the artifact says so (steal_gated=false).
    val StealGatePct = 0.5
    // Janino work over the timed passes: a warm pass whose generated
    // classes fit GraftSession.CodegenCacheEntries compiles nothing
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val samples = Array.fill(Headline.size)(Vector.empty[Double])
    val passLoads = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passCanaries = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passSteals = scala.collection.mutable.ArrayBuffer.empty[Double]
    var p = 0
    var continue = true
    while (continue) {
      passLoads += loadNow()
      passCanaries += cpuCanary()
      val (ps0, pt0) = statTicks()
      for ((name, qi) <- Headline.zipWithIndex) {
        val t0 = System.nanoTime()
        // a failed query must NOT record its (tiny) elapsed-to-failure
        // time as a plausible sample — report the -1 sentinel instead
        samples(qi) = samples(qi) :+ (
          try { run(queries(name)(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
          catch { case _: Throwable => -1.0 })
      }
      val (ps1, pt1) = statTicks()
      passSteals += (if (pt1 > pt0) 100.0 * (ps1 - ps0) / (pt1 - pt0) else -1.0)
      p += 1
      // a burned pass buys extra passes exactly like a loaded one
      continue = p < BasePasses ||
        (p < MaxPasses && (passLoads.exists(_ > maxLoad) ||
          passSteals.exists(_ > StealGatePct)))
    }
    val codegenCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val codegenCompileMs = f"${(CodeGenerator.compileTime - compileNs0) / 1e6}%.1f"
    val cleanStealPasses = passSteals.zipWithIndex.collect {
      case (s, i) if s >= 0 && s <= StealGatePct => i
    }.toSet
    // Prefer passes that are BOTH steal-clean AND below the load gate
    // (the r15 lesson: both steal-clean passes carried loads 4.8/6.6,
    // so the steal-gated min still read a loaded box and d_web_pipeline
    // swung 8↔12 s on untouched code). Fall back: steal-clean only,
    // then all samples — and the artifact says which tier won.
    //
    // r16 measurement fix (declared in OPTIMIZATION_r16.md): the
    // clean-both tier needs AT LEAST TWO qualifying passes. Loadavg at
    // pass start includes the bench's OWN 32-core activity from the
    // preceding passes, so on an idle box exactly one pass — the FIRST,
    // coldest one — sits under the load gate, and the "clean" tier
    // degenerated to a single cold-JIT sample per query (measured:
    // m_jpeg_pixels 2.48 s from pass 0 vs 0.59 s warmed; every query's
    // min_pass pinned to 0). One pass is not a minimum statistic; two
    // keeps the r15 protection against genuinely loaded windows while
    // never discarding six of seven samples for self-load.
    val cleanBothPasses = cleanStealPasses.filter(i => passLoads(i) <= maxLoad)
    val gateSet =
      if (cleanBothPasses.size >= 2) cleanBothPasses else cleanStealPasses
    val stealGated = cleanStealPasses.nonEmpty
    // true iff the clean-both tier actually SELECTED the samples
    val loadGated = cleanBothPasses.size >= 2
    val results = Headline.zipWithIndex.map { case (name, qi) =>
      // sample i of a query belongs to pass i (round-robin interleave)
      val gated = samples(qi).zipWithIndex.filter {
        case (v, i) => v >= 0 && (gateSet.isEmpty || gateSet(i))
      }
      val ok =
        if (gated.nonEmpty) gated else samples(qi).zipWithIndex.filter(_._1 >= 0)
      name -> (if (ok.isEmpty) (-1.0, -1.0, -1)
               else {
                 val (mn, mi) = ok.minBy(_._1)
                 (mn, ok.map(_._1).sorted.apply(ok.size / 2), mi)
               })
    }
    def dict(f: ((Double, Double, Int)) => String): String =
      results.map { case (k, v) => "\"" + k + "\":" + f(v) }
        .mkString("{", ",", "}")
    val qs = dict(v => v._1.toString)
    val medians = dict(v => v._2.toString)
    // which pass supplied each query's min — adjudication without
    // cross-referencing sample vectors by hand
    val minPass = dict(v => v._3.toString)
    val total = results.map(_._2._1).sum
    // the r6-frozen subset's total — the cross-round comparison number
    // (r12 widened the set; a new query must not read as a regression)
    val legacyTotal = results.collect {
      case (n, (mn, _, _)) if LegacyHeadline.contains(n) => mn
    }.sum
    // Machine-load context: recorded r02/r03 totals swung 2-4× purely
    // with co-tenant load average, so the artifact carries the load at
    // every pass start to make a loaded run self-diagnosing.
    val loadAvg =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+").take(3).mkString(",")
      catch { case _: Throwable => "" }
    val nCpu = Runtime.getRuntime.availableProcessors()
    // the session's task slots; "cpus" is only the JVM's processor count
    val parallelism = spark.sparkContext.defaultParallelism
    val canary = f"${Seq.fill(3)(cpuCanary()).min}%.4f"
    val (steal1, total1) = statTicks()
    val stealPct =
      if (total1 > total0) f"${100.0 * (steal1 - steal0) / (total1 - total0)}%.2f"
      else "-1"
    val line = s"""{"metric":"total","value":$total,"unit":"sec","window":"forced","legacy_total":$legacyTotal,"queries":$qs,"medians":$medians,"sf":"$sfDir","passes":$p,"pass_loads":"${passLoads.map(l => f"$l%.1f").mkString(",")}","pass_canary_sec":"${passCanaries.map(c => f"$c%.4f").mkString(",")}","pass_steal_pct":"${passSteals.map(s => f"$s%.2f").mkString(",")}","clean_passes":${cleanStealPasses.size},"clean_both_passes":${cleanBothPasses.size},"steal_gate_pct":$StealGatePct,"max_load":$maxLoad,"steal_gated":$stealGated,"load_gated":$loadGated,"min_pass":$minPass,"loadavg":"$loadAvg","cpus":$nCpu,"default_parallelism":$parallelism,"codegen_compiles":$codegenCompiles,"codegen_compile_ms":$codegenCompileMs,"canary_sec":$canary,"steal_pct":$stealPct}"""
    spark.stop()
    // Driver-parseable channels, most robust first: a file in the repo
    // root, then bare stdout lines (raw via run/outputStrategy, printed
    // after spark.stop() so no executor log noise follows).
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_result.json"),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    println(s"GRAFT_BENCH_JSON $line")
  }
}
