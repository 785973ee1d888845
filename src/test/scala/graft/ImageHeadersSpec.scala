package graft

import graft.functions.ImageHeaders
import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** The real half of multimodal decode: header metadata parsed from
  * actual bytes — synthetic round-trips, a hand-built JPEG frame, the
  * reference repo's real PNG screenshots, and the batched operator.
  */
class ImageHeadersSpec extends SparkSpec {

  test("synthetic headers round-trip through the parser") {
    for ((f, w, h) <- Seq(("png", 640, 480), ("gif", 13, 7), ("bmp", 1920, 1080)))
      assert(ImageHeaders.parse(ImageHeaders.syntheticHeader(f, w, h))
        .contains((f, w, h)))
  }

  test("hand-built JPEG SOF0 parses; junk does not") {
    // SOI, APP0 (16 bytes), SOF0 with height 243 width 585
    val jpeg = Array[Int](
      0xff, 0xd8,
      0xff, 0xe0, 0x00, 0x10, 'J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0,
      0xff, 0xc0, 0x00, 0x11, 8, 0x00, 0xf3, 0x02, 0x49, 3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1,
    ).map(_.toByte)
    assert(ImageHeaders.parse(jpeg).contains(("jpeg", 585, 243)))
    assert(ImageHeaders.parse("not an image".getBytes("UTF-8")).isEmpty)
    assert(ImageHeaders.parse(Array.emptyByteArray).isEmpty)
  }

  test("real PNG screenshots from the reference repo parse correctly") {
    import spark.implicits._
    val grafana = s"${DmarcFixtures.Reference}/grafana"
    assume(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(grafana)), s"$grafana is absent")
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png")
      .load(grafana)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .collect()
    assert(files.length >= 5)
    val parsed = files.map { case (p, bytes) =>
      p.split('/').last -> ImageHeaders.parse(bytes)
    }.toMap
    assert(parsed.values.forall(_.exists { case (f, w, h) => f == "png" && w > 0 && h > 0 }))
    // a known file's exact dimensions
    assert(parsed("grafana-dmarc-reports04.png").contains(("png", 585, 243)))
  }

  test("m_image_headers: every synthesized payload decodes to its declared meta") {
    val rows = Multimodal.decodeHeaders(Multimodal.imageTable(Tables(spark, sfDir)))
    assert(rows.count() == Tables(spark, sfDir).documents.count())
    assert(rows.filter(!col("header_ok")).count() == 0)
    // a deliberately corrupted payload is flagged, not mis-parsed
    val bad = Multimodal.decodeHeaders(
      Multimodal.imageTable(Tables(spark, sfDir))
        .withColumn("payload", expr("CAST('corrupt' AS BINARY)")))
    assert(bad.filter(col("header_ok")).count() == 0)
  }
}
