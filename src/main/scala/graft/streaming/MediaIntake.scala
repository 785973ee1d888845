package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.functions._

/** Continuous MULTIMODAL intake: media files land in a drop directory
  * (crawler output, upload feed) and are feature-extracted as they
  * arrive — the image-side sibling of ReportFileIntake. Extraction
  * (EXIF here; any per-file decoder slots in) is a STATELESS stream
  * projection: each file's metadata is complete the moment the file
  * is, no state store, no watermark, so the sink can route/tag media
  * inline. On a cluster the drop dir is an object-store path; the
  * binaryFile source and the per-file map are identical.
  */
object MediaIntake {

  /** One row of extracted EXIF, column-for-column the m_exif_meta
    * frame so the stream shares its closed-form oracle.
    */
  final case class ExifRow(doc_id: Long, byte_order: String, make: String,
                           model: String, orientation: Int, date_time: String,
                           iso: Int, exp_num: Int, exp_den: Int)

  /** Materialize a (doc_id, payload) frame as one file per row —
    * executor-side, so no driver collect — reused across runs via a
    * row-count marker (payloads are deterministic functions of doc_id,
    * so count identity means byte identity).
    *
    * `expectedRows` (r17): the marker count, when the caller already
    * knows it from a metadata-cheap source (the media frames here are
    * one row per document, so `documents.count()` is a parquet
    * row-group metadata read) — media frames are RDD-backed, so
    * `media.count()` cannot prune and pays the FULL payload
    * generation once for the count and again for the writes.
    */
  def materializeDropDir(media: DataFrame, dir: String, ext: String = "jpg",
                         expectedRows: Long = -1L): Unit = {
    val n = if (expectedRows >= 0) expectedRows else media.count()
    val root = new java.io.File(dir)
    val marker = new java.io.File(root, s"_READY_$n")
    if (marker.exists()) return
    root.mkdirs()
    // stale markers AND stale payload files go: a regenerated base with
    // fewer rows would otherwise leave orphan files the stream would
    // happily emit as extra (gate-red) rows
    root.listFiles().foreach { f =>
      if (f.getName.startsWith("_READY_") || f.getName.endsWith(s".$ext") ||
          f.getName.endsWith(".tmp")) f.delete()
    }
    media.select(col("doc_id"), col("payload")).foreachPartition {
      rows: java.util.Iterator[org.apache.spark.sql.Row] =>
        // one temp name per task: two rows of one doc_id in concurrent
        // tasks must not move each other's temp file
        val task = org.apache.spark.TaskContext.get().taskAttemptId()
        rows.forEachRemaining { r =>
          val f = new java.io.File(dir, s"doc_${r.getLong(0)}.$ext")
          val tmp = new java.io.File(dir, s".doc_${r.getLong(0)}.$ext.$task.tmp")
          java.nio.file.Files.write(tmp.toPath, r.getAs[Array[Byte]](1))
          // atomic publish (THROWS on failure — File.renameTo returns a
          // silently-ignorable boolean): the stream never sees a torn file
          java.nio.file.Files.move(tmp.toPath, f.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
    }
    // the marker vouches for the directory, not for the caller's count:
    // a wrong `expectedRows` or a repeated doc_id (one file, two rows)
    // must not publish a directory the stream would read short
    val written = root.listFiles().count(_.getName.endsWith(s".$ext"))
    if (written != n) throw new IllegalStateException(
      s"MediaIntake: $dir holds $written .$ext files, expected $n rows; no _READY_ marker written")
    marker.createNewFile()
    ()
  }

  /** The drop-directory file stream (path + bytes). */
  def mediaFileStream(spark: SparkSession, dropDir: String,
                      ext: String = "jpg"): DataFrame =
    spark.readStream.format("binaryFile")
      .schema(BinaryFileFormat.schema)
      .option("pathGlobFilter", s"*.$ext")
      .load(dropDir)
      .select(col("path"), col("content"))

  /** One page row of the streaming WARC chain — column-for-column the
    * p_warc_extract frame so the stream shares its closed-form oracle.
    */
  final case class WarcPage(doc_id: Long, url: String, http_status: Int,
                            title: String, n_words: Int)

  /** Materialize (bucket, warcBlob) rows as one `.warc` file per
    * bucket — executor-side, marker-guarded like the media dir, BUT
    * keyed on a caller-supplied CONTENT fingerprint of the source
    * corpus, not row count alone: WARC blob bytes depend on document
    * TEXT (unlike the EXIF drop dir, whose payloads are a closed-form
    * function of doc_id), so a regenerated corpus with identical
    * counts but different text must invalidate the cache.
    */
  def materializeWarcDir(blobs: org.apache.spark.sql.Dataset[(Long, Array[Byte])],
                         dir: String, contentFingerprint: String): Unit = {
    val n = blobs.count()
    val fp = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest(contentFingerprint.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      d.take(6).map(b => f"${b & 0xff}%02x").mkString
    }
    val root = new java.io.File(dir)
    val marker = new java.io.File(root, s"_READY_${n}_$fp")
    if (marker.exists()) return
    root.mkdirs()
    root.listFiles().foreach { f =>
      if (f.getName.startsWith("_READY_") || f.getName.endsWith(".warc") ||
          f.getName.endsWith(".warc.gz") || f.getName.endsWith(".tmp")) f.delete()
    }
    blobs.foreachPartition { rows: Iterator[(Long, Array[Byte])] =>
      rows.foreach { case (bucket, blob) =>
        val f = new java.io.File(dir, s"part_$bucket.warc.gz")
        val tmp = new java.io.File(dir, s".part_$bucket.warc.gz.tmp")
        java.nio.file.Files.write(tmp.toPath, blob)
        java.nio.file.Files.move(tmp.toPath, f.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    }
    marker.createNewFile()
    ()
  }

  /** Continuous CRAWL ingestion: `.warc.gz` files land in the drop
    * dir (Common Crawl's actual shipping form — one gzip member per
    * record; plain `.warc` is accepted too) and every record
    * flows WARC → HTTP → HTML → text statelessly — one flatMap per
    * file, no state store, no watermark. A torn file yields zero rows
    * (WarcRecords.parse's all-or-nothing contract) instead of a
    * partial ingest.
    */
  def warcStream(spark: SparkSession, dropDir: String): Dataset[WarcPage] = {
    import spark.implicits._
    spark.readStream.format("binaryFile")
      .schema(BinaryFileFormat.schema)
      .option("pathGlobFilter", "*.warc*")
      .load(dropDir)
      .select(col("content")).as[Array[Byte]]
      .flatMap { bytes =>
        graft.functions.WarcRecords.parseAny(bytes).getOrElse(Seq.empty).map { r =>
          val row = graft.operators.TextAnalysis.warcPageRow(r)
          WarcPage(row._1, row._2, row._3, row._4, row._5)
        }
      }
  }

  /** One row of Ogg/Vorbis triage, column-for-column the m_ogg_headers
    * frame so the stream shares its closed-form oracle — the AUDIO arm
    * of the continuous intake (podcast/speech crawl drop dirs).
    */
  final case class OggRow(doc_id: Long, serial: Long, n_pages: Int,
                          last_granule: Long, channels: Int, sample_rate: Int,
                          nominal_bitrate: Int, duration_ms: Long,
                          vendor: String, header_ok: Boolean)

  /** One row of decoded TIFF pixels, column-for-column the
    * m_tiff_pixels frame so the stream shares the PNG gradient's
    * closed-form oracle; pixels_ok re-derives the expected means from
    * the doc_id the filename carries (the fixture's (w, h, seed) are
    * doc_id formulas, so the streaming check needs no side channel).
    */
  final case class TiffRow(doc_id: Long, width: Int, height: Int,
                           mean_r: Double, mean_g: Double, mean_b: Double,
                           pixels_ok: Boolean)

  /** Stateless per-file TIFF decode over the drop stream — the
    * still-image arm of the continuous intake, full IFD walk per file.
    */
  def tiffStream(spark: SparkSession, dropDir: String): Dataset[TiffRow] = {
    import spark.implicits._
    val id = "doc_([0-9]+)\\.tiff$".r
    mediaFileStream(spark, dropDir, ext = "tiff").as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        id.findFirstMatchIn(path).map { m =>
          val d = m.group(1).toLong
          graft.functions.TiffPixels.decode(bytes) match {
            case Some(p @ (w, h, mr, mg, mb)) =>
              TiffRow(d, w, h, mr, mg, mb, graft.operators.Multimodal.gradientOk(
                p, (d % 16).toInt + 4, (d % 12).toInt + 4, (d % 997).toInt,
                graft.functions.PngPixels.syntheticMeans))
            case None => TiffRow(d, 0, 0, 0.0, 0.0, 0.0, pixels_ok = false)
          }
        }
      }
  }

  /** Stateless per-file Ogg walk over the drop stream: same shape as
    * [[exifStream]], CRC-verified pages and all.
    */
  def oggStream(spark: SparkSession, dropDir: String): Dataset[OggRow] = {
    import spark.implicits._
    val id = "doc_([0-9]+)\\.ogg$".r
    mediaFileStream(spark, dropDir, ext = "ogg").as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        id.findFirstMatchIn(path).map { m =>
          graft.functions.OggHeaders.parse(bytes) match {
            case Some(o) => OggRow(m.group(1).toLong, o.serial, o.nPages,
              o.lastGranule, o.channels, o.sampleRate, o.nominalBitrate,
              o.durationMs, o.vendor, header_ok = true)
            case None => OggRow(m.group(1).toLong, 0L, 0, 0L, 0, 0, 0, 0L, "",
              header_ok = false)
          }
        }
      }
  }

  /** Stateless EXIF extraction over the arriving files; doc_id comes
    * from the file name, files without parseable EXIF are skipped (the
    * gate's full-row-set compare then surfaces any skip as missing).
    */
  def exifStream(spark: SparkSession, dropDir: String): Dataset[ExifRow] = {
    import spark.implicits._
    val id = "doc_([0-9]+)\\.jpg$".r
    mediaFileStream(spark, dropDir).as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        for {
          m <- id.findFirstMatchIn(path)
          e <- graft.functions.ExifMeta.parse(bytes)
        } yield ExifRow(m.group(1).toLong, e.byteOrder, e.make, e.model,
                        e.orientation, e.dateTime, e.iso, e.expNum, e.expDen)
      }
  }
}
