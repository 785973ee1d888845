package graft

import org.scalatest.funsuite.AnyFunSuite

/** The media family runs through one decode step and one synthetic-table
  * step in `Multimodal`, and the raster thumbnails through one sampler.
  */
class MediaDecodeSurfaceSpec extends AnyFunSuite {

  private val multimodal = "src/main/scala/graft/operators/Multimodal.scala"
  private lazy val text =
    MainSources.all.collectFirst { case (p, t) if p.toString == multimodal => t }.get

  test("the Spark shell of every media decoder and table is written once, inside the helpers") {
    // the helpers open the object body; the first schema after them ends it
    val (from, to) = (text.indexOf("private def synthTable("), text.indexOf("val featureSchema"))
    assert(0 <= from && from < to)
    for (pattern <- Seq("""createDataFrame\(""", """\.rdd\b""")) {
      val at = pattern.r.findAllMatchIn(text).map(_.start).toSeq
      assert(at.nonEmpty && at.forall(i => from < i && i < to), pattern)
    }
  }

  test("no media decoder batches rows, and no table hand-writes a payload schema") {
    for (pattern <- Seq("""grouped\(""", """StructField\("payload", BinaryType\)"""))
      assert(pattern.r.findFirstIn(text).isEmpty, pattern)
  }

  test("the FNV raster walk has one definition besides the BMP and formula samplers") {
    val walks = MainSources.matches("0xcbf29ce484222325L")
      .filter(_._1.startsWith("src/main/scala/graft/functions/"))
    // ImageHeaders: thumbnailBmp and the shared thumbnailRaster;
    // PngPixels: syntheticThumb, the formula-only reference
    assert(walks == Map(
      "src/main/scala/graft/functions/ImageHeaders.scala" -> 2,
      "src/main/scala/graft/functions/PngPixels.scala" -> 1), walks)
  }
}
