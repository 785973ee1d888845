package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one DMARC parse step: every intake (batch readers, the
  * drop-directory stream, IMAP, ingest metrics, the CLI registry docs)
  * reads through `DmarcReader`'s batch source or `ReportFileIntake`'s
  * stream source and parses through a `DmarcReader.Family`, so a new
  * intake composes them instead of copying the scan or the parse.
  */
class DmarcIntakeSurfaceSpec extends AnyFunSuite {

  test("the DMARC binaryFile source is declared once for batch and once for stream") {
    val scans = MainSources.matches("""format\("binaryFile"\)""") -
      "src/main/scala/graft/streaming/MediaIntake.scala"
    assert(scans == Map(
      "src/main/scala/graft/sources/DmarcReader.scala" -> 1,
      "src/main/scala/graft/streaming/ReportFileIntake.scala" -> 1), scans)
  }

  test("the DMARC family parsers run on Spark rows only in DmarcReader") {
    val calls = MainSources.matches("""AggregateXmlParser\.parseAny\b|ForensicParser\.parse\b|TlsReportParser\.parseAny\b""")
    val allowed = Set("DmarcParsers", "DmarcReader", "ReportValidator")
      .map(f => s"src/main/scala/graft/sources/$f.scala")
    assert(calls.keySet.subsetOf(allowed), calls)
  }

  test("report → record flattening is written once") {
    val flattens = MainSources.matches("""flatMap\((?:DmarcReader\.)?recordRows\)""")
    assert(flattens == Map("src/main/scala/graft/sources/DmarcReader.scala" -> 1), flattens)
  }

  test("the DMARC sources read XML through the one streaming pass, never scala-xml") {
    val uses = MainSources.matches("""scala\.xml""").filter(_._1.startsWith("src/main/scala/graft/sources/"))
    assert(uses.isEmpty, uses)
  }
}
