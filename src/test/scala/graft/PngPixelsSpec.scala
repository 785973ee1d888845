package graft

import graft.functions.PngPixels
import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** The compressed-format image decode path: full zlib inflate + row
  * unfilter, checked three independent ways — per-pixel against the
  * generator's gradient formula (every filter branch by construction),
  * end to end through the batched operator, and on the reference
  * repo's REAL libpng screenshots (means within the valid byte range,
  * dimensions matching the header parse).
  */
class PngPixelsSpec extends SparkSpec {

  test("gradient PNG decodes pixel-exact through all five filter types") {
    // h >= 10 cycles each filter type at least twice; w not a multiple
    // of 3 exercises the per-channel left-neighbor offset
    val (w, h, seed) = (17, 11, 42)
    val bytes = PngPixels.syntheticPng(w, h, seed)
    val Some((dw, dh, ch, raster)) = PngPixels.decodeRaster(bytes)
    assert((dw, dh, ch) == (w, h, 3))
    for (y <- 0 until h; x <- 0 until w) {
      val i = (y * w + x) * 3
      assert((raster(i) & 0xff) == (x * 3 + seed) % 256, s"R at ($x,$y)")
      assert((raster(i + 1) & 0xff) == (y * 5 + seed * 7) % 256, s"G at ($x,$y)")
      assert((raster(i + 2) & 0xff) == (x + y + seed * 13) % 256, s"B at ($x,$y)")
    }
    val Some((_, _, mr, mg, mb)) = PngPixels.decode(bytes)
    assert((mr, mg, mb) == PngPixels.syntheticMeans(w, h, seed))
  }

  test("malformed payloads are rejected, never a wrong answer") {
    val good = PngPixels.syntheticPng(8, 6, 7)
    assert(PngPixels.decode("not a png".getBytes("UTF-8")).isEmpty)
    assert(PngPixels.decode(Array.emptyByteArray).isEmpty)
    // truncated zlib stream (cut mid-IDAT)
    assert(PngPixels.decode(good.take(good.length - 20)).isEmpty)
    // flipped bit inside the compressed stream must not decode silently
    // to the same means as the original
    val flipped = good.clone()
    flipped(good.length - 30) = (flipped(good.length - 30) ^ 0x55).toByte
    val orig = PngPixels.decode(good)
    assert(PngPixels.decode(flipped) != orig)
    // header-only PNG (no IDAT) from the metadata generator
    assert(PngPixels.decode(
      graft.functions.ImageHeaders.syntheticHeader("png", 8, 6)).isEmpty)
  }

  test("real libpng screenshots from the reference repo decode") {
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
    var decoded = 0
    files.foreach { case (p, bytes) =>
      val header = graft.functions.ImageHeaders.parse(bytes)
      PngPixels.decode(bytes).foreach { case (w, h, mr, mg, mb) =>
        decoded += 1
        // dimensions must agree with the independent header walk, and
        // a real dashboard screenshot is neither all-black nor all-white
        assert(header.contains(("png", w, h)), p)
        Seq(mr, mg, mb).foreach(m => assert(m > 0.0 && m < 255.0, s"$p mean $m"))
      }
    }
    // the supported profile (8-bit, non-palette, non-interlaced) must
    // cover at least some of the real screenshots — all-skip would make
    // this test vacuous
    assert(decoded >= 1, s"no screenshot fell in the supported profile")
  }

  test("thumbnail samples the exact nearest-neighbor grid pixels") {
    val (w, h, seed) = (17, 11, 42)
    val bytes = PngPixels.syntheticPng(w, h, seed)
    val Some((tw, th, mr, mg, mb, fnv)) = PngPixels.thumbnail(bytes, 4, 4)
    assert((tw, th) == (4, 4))
    // hand-walk the sampling grid straight off the gradient formula
    var (sr, sg, sb) = (0L, 0L, 0L)
    var efnv = 0xcbf29ce484222325L
    def mix(v: Int): Unit = { efnv ^= (v & 0xff); efnv *= 0x100000001b3L }
    for (ty <- 0 until 4; tx <- 0 until 4) {
      val sy = ty * h / 4
      val sx = tx * w / 4
      val r = (sx * 3 + seed) % 256
      val g = (sy * 5 + seed * 7) % 256
      val b = (sx + sy + seed * 13) % 256
      sr += r; sg += g; sb += b
      mix(r); mix(g); mix(b)
    }
    assert(fnv === efnv)
    assert((mr, mg, mb) === (sr / 16.0, sg / 16.0, sb / 16.0))
    // and the shipped formula-side twin agrees with the hand walk
    assert(PngPixels.syntheticThumb(w, h, seed, 4, 4) === ((mr, mg, mb, fnv)))
    // degenerate grids: 1×1 samples the top-left pixel
    val Some((_, _, r1, g1, b1, _)) = PngPixels.thumbnail(bytes, 1, 1)
    assert((r1, g1, b1) === ((seed % 256).toDouble,
      (seed * 7 % 256).toDouble, (seed * 13 % 256).toDouble))
    assert(PngPixels.thumbnail(bytes, 0, 4).isEmpty)
  }

  test("m_png_thumbnail: every payload resizes and cross-checks against the formula") {
    val rows = Multimodal.decodePngThumbnails(
      Multimodal.pngTable(Tables(spark, sfDir)), 4, 4)
    assert(rows.count() == Tables(spark, sfDir).documents.count())
    assert(rows.filter(!col("thumb_ok")).count() == 0)
  }

  test("m_png_pixels: every payload decodes and matches the gradient means") {
    val rows = Multimodal.decodePngPixels(Multimodal.pngTable(Tables(spark, sfDir)))
    assert(rows.count() == Tables(spark, sfDir).documents.count())
    assert(rows.filter(!col("pixels_ok")).count() == 0)
    val bad = Multimodal.decodePngPixels(
      Multimodal.pngTable(Tables(spark, sfDir))
        .withColumn("payload", expr("CAST('corrupt' AS BINARY)")))
    assert(bad.filter(col("pixels_ok")).count() == 0)
  }
}
