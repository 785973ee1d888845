package graft

import java.nio.file.{Files, Path, Paths}

import graft.operators.DmarcIngest
import graft.sources.{AggregateXmlParser, ReportParser}

import scala.jdk.CollectionConverters._

/** The DMARC entries' corpus root (`spark.graft.dmarc.samples`): one
  * actionable error when it is missing, CLI-document paths relative to
  * it wherever it lives, and the in-repo corpus's own negative samples.
  */
class DmarcCorpusRootSpec extends SparkSpec {

  private def filesUnder(root: Path): Seq[String] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString).toSeq.sorted
    finally walk.close()
  }

  test("a missing corpus root fails once, naming the root and its conf") {
    val missing = Files.createTempDirectory("graft-corpus").resolve("absent").toString
    withSamplesRoot(missing) {
      val e = intercept[java.io.FileNotFoundException] {
        SparkEntry.queries("p_aggregate_xml")(spark, sfDir)
      }
      assert(e.getMessage.contains(missing), e.getMessage)
      assert(e.getMessage.contains(DmarcIngest.SamplesConf), e.getMessage)
    }
  }

  test("o_cli_json names files relative to the root, even one that repeats /samples/") {
    val root = Files.createDirectories(
      Files.createTempDirectory("graft-corpus").resolve("samples/copy/samples"))
    val fixtures = Paths.get(DmarcFixtures.Root)
    filesUnder(fixtures).foreach { rel =>
      Files.createDirectories(root.resolve(rel).getParent)
      Files.copy(fixtures.resolve(rel), root.resolve(rel))
    }
    val docs = withSamplesRoot(root.toString) {
      SparkEntry.queries("o_cli_json")(spark, sfDir).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    }
    // Spark's file scans skip zero-length files (empty.xml)
    assert(docs.keys.toSeq.sorted == filesUnder(root).filter(f => Files.size(root.resolve(f)) > 0))
    assert(docs("aggregate/invalid_xml.xml") == "error")
    assert(docs("smtp_tls/rfc8460.json") == "smtp_tls")
    assert(docs("forensic/dkim_failure_example.com.eml") == "forensic")
  }

  test("the fixture corpus's invalid samples reject: aggregate_invalid + empty.xml") {
    val root = Paths.get(DmarcFixtures.Root)
    val invalid = filesUnder(root.resolve("aggregate_invalid"))
    assert(invalid.nonEmpty)
    invalid.foreach { f =>
      val bytes = Files.readAllBytes(root.resolve("aggregate_invalid").resolve(f))
      assert(AggregateXmlParser.parseAny(bytes).isLeft, f)
      assert(ReportParser.parse(bytes).isLeft, f)
    }
    assert(AggregateXmlParser.parse(Files.readAllBytes(root.resolve("empty.xml"))).isLeft)
  }
}
