package graft

import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** The session's `file:` filesystem sets permissions in process, to the
  * same mode bits Hadoop's `chmod` path would set.
  */
class GraftLocalFileSystemSpec extends SparkSpec {

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("a month-partitioned table's files, checksums and directories carry the umasked defaults") {
    val conf = spark.sparkContext.hadoopConfiguration
    val out = Files.createTempDirectory("graft-perms").resolve("records")
    assert(new Path(out.toUri).getFileSystem(conf).getClass == classOf[GraftLocalFileSystem])

    spark.range(40).select(col("id"), (col("id") % 2 + 202401).cast("string").as("report_month"))
      .write.partitionBy("report_month").parquet(out.toString)

    val umask = FsPermission.getUMask(conf)
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
    val walk = Files.walk(out)
    val written = try walk.iterator.asScala.toList finally walk.close()
    val months = written.filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("report_month="))
    val parts = written.filter(_.getFileName.toString.startsWith("part-"))
    val crcs = written.filter(p => p.getFileName.toString.startsWith(".part-") && p.toString.endsWith(".crc"))
    assert(months.size == 2 && parts.size >= 2 && crcs.size == parts.size, written)
    for (p <- parts ++ crcs) assert(mode(p) == fileMode, f"$p: ${mode(p)}%o, not $fileMode%o")
    for (p <- months) assert(mode(p) == dirMode, f"$p: ${mode(p)}%o, not $dirMode%o")
  }

  test("every mode bit is set as asked; a sticky mode takes Hadoop's path") {
    val raw = new GraftLocalFileSystem.Raw
    raw.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val f = Files.createTempFile("graft-mode", ".bin")
    val d = Files.createTempDirectory("graft-sticky")
    try {
      for (m <- Seq(0x1ff, 0x1a4, 0x1e8, 0x124, 0x49, 0x0)) {
        raw.setPermission(new Path(f.toUri), new FsPermission(m.toShort))
        assert(mode(f) == m, f"${mode(f)}%o, not $m%o")
      }
      raw.setPermission(new Path(d.toUri), new FsPermission(0x3ff.toShort)) // 1777
      assert(mode(d) == 0x3ff, f"${mode(d)}%o, not 1777")
    } finally {
      Files.delete(f)
      Files.delete(d)
    }
  }
}
