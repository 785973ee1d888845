package graft

/** Optimization-round tooling: time named registry queries with the
  * bench's forced count+hash window, fewer passes — for fast iteration
  * between changes. The official artifact stays graft.Bench.
  *
  * Usage: runMain graft.QuickBench <passes> <query...>
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1).
  *
  * Per-job attribution: Spark's event log, folded by
  * scripts/event_log_stages.py (its docstring has the recipe).
  */
object QuickBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QuickBench <passes> <query...>")
    val passes = args(0).toInt
    val names = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-quickbench")
    val queries = SparkEntry.queries
    // each entry's jobs are described by its name
    def force(n: String, dir: String): Unit =
      GraftSession.described(spark, n) { ScaleDemo.forcedFrame(queries(n)(spark, dir)).head(); () }
    def run(n: String): Double = {
      val t0 = System.nanoTime()
      force(n, sfDir)
      (System.nanoTime() - t0) / 1e9
    }
    // warmup on the smallest SF (codegen/classloading), like Bench
    for (n <- names) {
      try force(n, "/root/testdata/sf0.001")
      catch { case scala.util.control.NonFatal(_) => () }
    }
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    for (_ <- 1 to passes; n <- names)
      samples(n) = samples.getOrElse(n, Vector.empty) :+ run(n)
    for (n <- names) {
      val v = samples(n)
      println(f"QUICKBENCH $n%-28s min=${v.min}%8.3f  med=${v.sorted.apply(v.size / 2)}%8.3f  all=${v.map(x => f"$x%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
