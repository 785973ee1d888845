package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins graft's user-settable surface: every `spark.graft.*` session
  * conf and every environment variable the main sources read. Each
  * knob doubles the configurations tests and benchmarks must cover, so
  * adding one has to edit an allowlist here, in plain sight.
  */
class KnobSurfaceSpec extends AnyFunSuite {

  private lazy val sources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  private def found(pattern: String): Map[String, Seq[String]] =
    sources.flatMap { case (p, text) =>
      pattern.r.findAllMatchIn(text).map(m => m.group(1) -> p.toString)
    }.groupMap(_._1)(_._2)

  test("spark.graft.* confs are exactly the allowlist") {
    val confs = found("\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"")
    assert(confs.keySet == Set("spark.graft.pack.buckets"), confs)
  }

  test("the bounded-broadcast limits are written only in Bounded.scala") {
    // a new broadcast decision uses graft.operators.Bounded, not a
    // fresh copy of a limit
    val limits = found("((?:4|16)L \\* 1000 \\* 1000|512L \\* 1024 \\* 1024)")
    assert(limits.values.flatten.toSet == Set("src/main/scala/graft/operators/Bounded.scala"), limits)
  }

  test("environment variables read are exactly the allowlist") {
    // sys.env lookups, plus lookups on an `env` map defaulted to sys.env
    val vars = found("\\b(?:sys\\.)?env(?:\\.get|\\.getOrElse|\\.contains)?\\(\\s*\"([A-Z][A-Z0-9_]*)\"")
    assert(vars.keySet == Set(
      "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "GRAFT_BENCH_MAX_LOAD",
      "GRAFT_KAFKA_BOOTSTRAP", "GRAFT_KAFKA_TOPIC"), vars)
    // no other way in: every sys.env use is a literal-named lookup or
    // the default of such an `env` map
    val unnamed = sources.filter { case (_, text) =>
      "sys\\.env(?!\\)|(?:\\.get|\\.getOrElse|\\.contains)?\\(\\s*\")".r
        .findFirstIn(text).nonEmpty || text.contains("System.getenv")
    }.map(_._1)
    assert(unnamed.isEmpty, unnamed)
  }
}
