package graft

import java.nio.file.Files

import graft.streaming.MediaIntake

/** The drop directory's `_READY_<n>` marker vouches for n payload files
  * on disk, whatever count the caller passed.
  */
class MediaIntakeSpec extends SparkSpec {

  import spark.implicits._

  private def media(ids: Long*) =
    ids.map(id => (id, Array[Byte](1, 2, id.toByte))).toDF("doc_id", "payload")

  private def markers(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("_READY_")).toSeq

  test("n rows, n files: the marker names n") {
    val dir = Files.createTempDirectory("media-drop").toString
    MediaIntake.materializeDropDir(media(1L, 2L, 3L), dir, expectedRows = 3L)
    assert(markers(dir) == Seq("_READY_3"))
  }

  test("a repeated doc_id (one file for two rows) throws and leaves no marker") {
    val dir = Files.createTempDirectory("media-drop").toString
    val e = intercept[IllegalStateException] {
      MediaIntake.materializeDropDir(media(1L, 2L, 2L), dir)
    }
    assert(e.getMessage.contains(dir) && e.getMessage.contains("2 .jpg files") &&
      e.getMessage.contains("expected 3"), e.getMessage)
    assert(markers(dir).isEmpty)
  }

  test("expectedRows one too high throws and leaves no marker") {
    val dir = Files.createTempDirectory("media-drop").toString
    val e = intercept[IllegalStateException] {
      MediaIntake.materializeDropDir(media(1L, 2L, 3L), dir, ext = "ogg", expectedRows = 4L)
    }
    assert(e.getMessage.contains("3 .ogg files") && e.getMessage.contains("expected 4"), e.getMessage)
    assert(markers(dir).isEmpty)
  }
}
