package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.sources.JsonText
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name filter for local iteration
    // (the driver always calls with 2 args → full dump)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.build("graft-verify")
    run(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** Writes every registry entry `only` names (all when None) to
    * `outDir/<entry>`, each entry's Spark jobs described by its name,
    * then `oracle_sql.json` and `_failures.json`: one
    * `{entry, exception, message}` per entry that failed, `[]` when none
    * did. A failed entry also leaves one stderr line.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Option[Set[String]]): Unit = {
    new java.io.File(outDir).mkdirs()
    val failures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      try {
        GraftSession.described(spark, name) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        }
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(s"""{"entry": ${JsonText.str(name)}, "exception": """ +
          s"""${JsonText.str(e.getClass.getName)}, "message": ${JsonText.str(e.getMessage)}}""")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonText.str(k)}: ${JsonText.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/_failures.json"), failures.mkString("[", ",\n", "]"))
  }
}
