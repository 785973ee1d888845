package graft

import graft.api.ParseSnapshots

/** Pins the committed parse snapshots (the DuckDB VALUES oracles of the
  * p_* / o_email_mime entries) to the LIVE parse of the reference sample
  * corpus — the same honesty contract TlsAnalyticsSpec keeps for the TLS
  * snapshot; canceled where that corpus is absent. A parser change that
  * shifts any field shows up here first, then in the hash gate.
  */
class ParseSnapshotsSpec extends SparkSpec {

  private def rows(name: String): Seq[Seq[Any]] =
    onReferenceSamples(SparkEntry.queries(name)(spark, sfDir).collect().toSeq)
      .map(r => (0 until r.length).map(r.get))

  test("p_aggregate_xml live parse matches the committed snapshot") {
    assert(rows("p_aggregate_xml") ==
      ParseSnapshots.AggregateXmlRows.map(_.productIterator.toSeq))
  }

  test("p_compressed live parse matches the committed snapshot") {
    assert(rows("p_compressed") ==
      ParseSnapshots.CompressedRows.map(_.productIterator.toSeq))
  }

  test("p_forensic_arf live parse matches the committed snapshot") {
    assert(rows("p_forensic_arf") ==
      ParseSnapshots.ForensicArfRows.map(_.productIterator.toSeq))
  }

  test("p_smtp_tls_json live parse matches the committed snapshot") {
    assert(rows("p_smtp_tls_json") ==
      ParseSnapshots.SmtpTlsJsonRows.map(_.productIterator.toSeq))
  }

  test("o_email_mime live format matches the committed snapshot") {
    assert(rows("o_email_mime") ==
      ParseSnapshots.EmailMimeRows.map(_.productIterator.toSeq))
  }
}
