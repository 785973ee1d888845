package graft

/** Optimization-round tooling: dump `.explain("formatted")` for named
  * registry queries to files (plans/r16/<name>_<tag>.txt), so plan-shape
  * claims in OPTIMIZATION_r16.md are checkable without running Spark.
  *
  * Usage: runMain graft.PlanDump <tag> <query...>
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), GRAFT_PLAN_DIR (default
  * plans/r16).
  *
  * NOTE: composite entries (d_web_pipeline*) execute their pipeline
  * EAGERLY during construction and return a tiny stage-count frame —
  * their meaningful plans are per-stage, in the event log's `web:<stage>`
  * SQL executions; this tool still records the final frame for them.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <tag> <query...>")
    val tag = args(0)
    val names = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = java.nio.file.Paths.get(
      sys.env.getOrElse("GRAFT_PLAN_DIR", "plans/r16"))
    java.nio.file.Files.createDirectories(outDir)
    // GRAFT_PLAN_LAZY=1: build plans with Materialize disabled (the
    // PlanAuditSpec mode), so eagerly-checkpointing pipeline entries
    // show their FULL lazy plan instead of a checkpoint scan
    val lazyMode = sys.env.get("GRAFT_PLAN_LAZY").contains("1")
    val spark = GraftSession.build("graft-plandump")
    val queries = SparkEntry.queries
    for (n <- names) {
      val df =
        if (lazyMode) graft.operators.Materialize.lazily(queries(n)(spark, sfDir))
        else queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"${n}_$tag.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plandump] wrote ${n}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
