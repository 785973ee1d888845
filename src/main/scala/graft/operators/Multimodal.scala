package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video travel as opaque
  * `binary` columns with a typed metadata struct. Two helpers carry
  * every table and decoder here:
  *   - [[synthTable]] builds a (doc_id, payload[, meta]) frame from a
  *     narrow base frame, one payload per base row;
  *   - [[decodeRows]] maps each (doc_id, payload[, meta]) row to one
  *     output row on the input's partitioning; its [[decodeSome]] form
  *     drops a row whose decode yields nothing (the near-dup hashes).
  * Each decoder is a plain per-row function over the payload bytes
  * (graft.functions, pure JVM, no media libraries). Only
  * [[extractFeatures]] keeps byte statistics in place of a decode.
  *
  * Parallelism (r16): synthTable widens its narrow base (doc_id + a
  * few ints) with Par.widen before the RDD conversion — the gate
  * corpus arrives as ONE parquet split (single row group), which would
  * otherwise pin the per-row encode AND the downstream decode (which
  * inherits the table's partitioning) to a single core; measured
  * 2.67 → 1.77 s on m_jpeg_pixels at sf0.1. Par.widen is a no-op when
  * the scan is already at cluster parallelism, so a real sharded media
  * table pays no extra shuffle.
  */
object Multimodal extends QueryModule {

  /** The one synthetic-table step: widen `base` (doc_id first) with
    * Par.widen, then one (doc_id, payload[, meta]) row per base row,
    * where meta is the struct of base's columns after doc_id. The
    * schema follows `base`, nullable throughout.
    */
  private def synthTable(base: DataFrame, withMeta: Boolean = true)
                        (payload: Row => Array[Byte]): DataFrame = {
    val fields = base.schema.fields.map(_.copy(nullable = true))
    val schema = StructType(fields.take(1)).add("payload", BinaryType)
    val rdd = Par.widen(base, col("doc_id")).rdd.map { r =>
      if (withMeta) Row(r.get(0), payload(r), Row.fromSeq(r.toSeq.tail))
      else Row(r.get(0), payload(r))
    }
    base.sparkSession.createDataFrame(rdd,
      if (withMeta) schema.add("meta", StructType(fields.tail)) else schema)
  }

  /** The one decode step: each (doc_id, payload[, meta]) row of `media`
    * maps to one row of `schema`, on the input's partitioning.
    */
  private def decodeRows(media: DataFrame, schema: StructType, withMeta: Boolean = true)
                        (f: Row => Row): DataFrame =
    decodeSome(media, schema, withMeta)(r => Some(f(r)))

  /** [[decodeRows]] for a decode that may yield no row. */
  private def decodeSome(media: DataFrame, schema: StructType, withMeta: Boolean)
                        (f: Row => Option[Row]): DataFrame = {
    val cols = Seq(col("doc_id"), col("payload")) ++ (if (withMeta) Seq(col("meta")) else Nil)
    media.sparkSession.createDataFrame(media.select(cols: _*).rdd.flatMap(f), schema)
  }

  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_bytes", LongType),
    StructField("mean_byte", DoubleType),
    StructField("distinct_bytes", IntegerType),
  ))

  /** Synthesize a media table from documents: payload = UTF-8 bytes of
    * the text (deterministic fake image), metadata derived from doc_id.
    */
  def mediaTable(t: Tables): DataFrame =
    t.documents.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        element_at(array(lit("png"), lit("jpeg"), lit("webp")),
          (col("doc_id") % 3 + 1).cast("int")).as("format"),
        (col("doc_id") % 640 + 32).cast("int").as("width"),
        (col("doc_id") % 480 + 32).cast("int").as("height"),
      ).as("meta"))

  /** Byte statistics per media row, standing in for a decode: the
    * declared format and dimensions, payload size, mean byte and
    * distinct byte count.
    */
  def extractFeatures(media: DataFrame): DataFrame =
    decodeRows(media, featureSchema) { r =>
      val payload = r.getAs[Array[Byte]](1)
      val meta = r.getStruct(2)
      // raw sum/size, no display rounding: the partial sums stay exact
      // integers (≤255·len ≪ 2^53), so the single IEEE division is
      // bit-identical to the DuckDB oracle's SUM::DOUBLE / len — a
      // rounded mean would reintroduce engine-specific tie behavior
      val mean =
        if (payload.isEmpty) 0.0
        else payload.iterator.map(b => (b & 0xff).toDouble).sum / payload.length
      Row(r.getLong(0), meta.getString(0), meta.getInt(1), meta.getInt(2),
          payload.length.toLong,
          mean,
          payload.iterator.map(b => b & 0xff).toSet.size)
    }

  val headerSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("header_ok", BooleanType),
  ))

  /** Media table whose payloads are REAL image headers (PNG/GIF/BMP
    * bytes synthesized per-format with the declared dimensions) — the
    * metadata-decode path below parses actual bytes, not a side
    * channel.
    */
  def imageTable(t: Tables): DataFrame =
    synthTable(t.documents.select(
      col("doc_id"),
      element_at(array(lit("png"), lit("gif"), lit("bmp")),
        (col("doc_id") % 3 + 1).cast("int")).as("format"),
      (col("doc_id") % 640 + 32).cast("int").as("width"),
      (col("doc_id") % 480 + 32).cast("int").as("height"))) { r =>
      graft.functions.ImageHeaders.syntheticHeader(r.getString(1), r.getInt(2), r.getInt(3))
    }

  /** REAL metadata decode: parse (format, width, height) out of the
    * payload's actual header bytes (graft.functions.ImageHeaders —
    * pure-JVM PNG/GIF/BMP/JPEG parsing, no media libraries).
    * `header_ok` compares the parsed values to the declared metadata —
    * a corrupt or mislabeled payload surfaces as false instead of
    * poisoning downstream stats. Pixel decode is REAL for BMP
    * (decodePixels), PNG (decodePngPixels), GIF (decodeGifPixels), JPEG
    * (decodeJpegPixels), and lossless WebP (decodeWebpPixels).
    */
  def decodeHeaders(media: DataFrame): DataFrame =
    decodeRows(media, headerSchema) { r =>
      val meta = r.getStruct(2)
      graft.functions.ImageHeaders.parse(r.getAs[Array[Byte]](1)) match {
        case Some((f, w, h)) =>
          Row(r.getLong(0), f, w, h,
              f == meta.getString(0) && w == meta.getInt(1) && h == meta.getInt(2))
        case None =>
          Row(r.getLong(0), "unknown", 0, 0, false)
      }
    }

  val audioSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("bits", IntegerType),
    StructField("duration_ms", LongType),
    StructField("header_ok", BooleanType),
  ))

  /** Audio table whose payloads are REAL canonical WAV headers
    * synthesized with the declared parameters — the audio twin of
    * `imageTable`.
    */
  def audioTable(t: Tables): DataFrame =
    synthTable(t.documents.select(
      col("doc_id"),
      (col("doc_id") % 2 + 1).cast("int").as("channels"),
      element_at(array(lit(8000), lit(16000), lit(44100)),
        (col("doc_id") % 3 + 1).cast("int")).as("sample_rate"),
      (col("doc_id") % 48000 + 1000).as("n_samples"))) { r =>
      graft.functions.AudioHeaders.syntheticHeader(
        r.getInt(1), r.getInt(2), bits = 16, nSamples = r.getLong(3))
    }

  /** REAL audio metadata decode: parse channels/rate/bits/duration out
    * of the payload's actual RIFF bytes (functions.AudioHeaders);
    * `header_ok` cross-checks the parsed values against the declared
    * metadata.
    */
  def decodeAudioHeaders(media: DataFrame): DataFrame =
    decodeRows(media, audioSchema) { r =>
      val meta = r.getStruct(2)
      graft.functions.AudioHeaders.parse(r.getAs[Array[Byte]](1)) match {
        case Some((ch, rate, bits, durMs)) =>
          val expectMs = meta.getLong(2) * 1000L / meta.getInt(1)
          Row(r.getLong(0), ch, rate, bits, durMs,
              ch == meta.getInt(0) && rate == meta.getInt(1) && durMs == expectMs)
        case None =>
          Row(r.getLong(0), 0, 0, 0, 0L, false)
      }
    }

  val videoSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("brand", StringType),
    StructField("timescale", IntegerType),
    StructField("duration_ms", LongType),
    StructField("header_ok", BooleanType),
  ))

  /** Video table whose payloads are REAL minimal MP4 box streams
    * (ftyp + moov/mvhd) with the declared timescale/duration.
    */
  def videoTable(t: Tables): DataFrame =
    synthTable(t.documents.select(
      col("doc_id"),
      element_at(array(lit("isom"), lit("mp42")),
        (col("doc_id") % 2 + 1).cast("int")).as("brand"),
      element_at(array(lit(600), lit(1000), lit(90000)),
        (col("doc_id") % 3 + 1).cast("int")).as("timescale"),
      (col("doc_id") % 3600 + 1).as("dur_s"))) { r =>
      graft.functions.VideoHeaders.syntheticHeader(
        r.getString(1), r.getInt(2), r.getLong(3) * r.getInt(2))
    }

  /** REAL video metadata decode: parse brand/timescale/duration out of
    * the payload's actual MP4 boxes (functions.VideoHeaders).
    */
  def decodeVideoHeaders(media: DataFrame): DataFrame =
    decodeRows(media, videoSchema) { r =>
      val meta = r.getStruct(2)
      graft.functions.VideoHeaders.parse(r.getAs[Array[Byte]](1)) match {
        case Some((brand, ts, durMs)) =>
          Row(r.getLong(0), brand, ts, durMs,
              brand == meta.getString(0) && ts == meta.getInt(1) &&
                durMs == meta.getLong(2) * 1000L)
        case None =>
          Row(r.getLong(0), "unknown", 0, 0L, false)
      }
    }

  val pixelSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("mean_r", DoubleType),
    StructField("mean_g", DoubleType),
    StructField("mean_b", DoubleType),
    StructField("pixels_ok", BooleanType),
  ))

  val thumbSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("thumb_w", IntegerType),
    StructField("thumb_h", IntegerType),
    StructField("mean_r", DoubleType),
    StructField("mean_g", DoubleType),
    StructField("mean_b", DoubleType),
    StructField("pixel_fnv", LongType),
    StructField("thumb_ok", BooleanType),
  ))

  /** Nearest-neighbor thumbnails over a (doc_id, payload, meta) media
    * frame — the resize stage of the multimodal brief, real for the
    * codec-free BMP format. thumb_ok cross-checks the thumbnail's
    * channel means against the declared solid source color (a solid
    * image downsamples to itself at any grid).
    */
  def decodeThumbnails(media: DataFrame, tw: Int, th: Int): DataFrame =
    decodeRows(media, thumbSchema) { r =>
      val meta = r.getStruct(2)
      graft.functions.ImageHeaders.thumbnailBmp(r.getAs[Array[Byte]](1), tw, th) match {
        case Some((w, h, mr, mg, mb, fnv)) =>
          Row(r.getLong(0), w, h, mr, mg, mb, fnv,
              mr == meta.getInt(2).toDouble && mg == meta.getInt(3).toDouble &&
                mb == meta.getInt(4).toDouble)
        case None => Row(r.getLong(0), 0, 0, 0.0, 0.0, 0.0, 0L, false)
      }
    }

  /** Image table whose payloads are COMPLETE uncompressed 24bpp BMPs
    * (solid color derived from doc_id) — real pixel arrays, not header
    * fragments. Dimensions stay small (≤19×15) so 500 full images are
    * a few hundred KB.
    */
  def bmpTable(t: Tables): DataFrame =
    synthTable(t.documents.select(
      col("doc_id"),
      (col("doc_id") % 16 + 4).cast("int").as("w"),
      (col("doc_id") % 12 + 4).cast("int").as("h"),
      (col("doc_id") % 256).cast("int").as("r"),
      (col("doc_id") * 7 % 256).cast("int").as("g"),
      (col("doc_id") * 13 % 256).cast("int").as("b"))) { r =>
      graft.functions.ImageHeaders.syntheticBmp(
        r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))
    }

  /** REAL pixel decode (uncompressed 24bpp BMP — no codec needed, just
    * the spec): per-channel means over the actual pixel array;
    * `pixels_ok` cross-checks the decoded means against the declared
    * solid color.
    */
  def decodePixels(media: DataFrame): DataFrame =
    decodeRows(media, pixelSchema) { r =>
      val meta = r.getStruct(2)
      graft.functions.ImageHeaders.decodeBmpPixels(r.getAs[Array[Byte]](1)) match {
        case Some((w, h, mr, mg, mb)) =>
          Row(r.getLong(0), w, h, mr, mg, mb,
              w == meta.getInt(0) && h == meta.getInt(1) &&
                mr == meta.getInt(2).toDouble && mg == meta.getInt(3).toDouble &&
                mb == meta.getInt(4).toDouble)
        case None => Row(r.getLong(0), 0, 0, 0.0, 0.0, 0.0, false)
      }
    }

  /** documents projected to the (w ≤ 19, h ≤ 15, seed) dims the
    * gradient fixtures (PNG, TIFF, GIF, WebP) share.
    */
  private def gradientDims(t: Tables): DataFrame =
    t.documents.select(
      col("doc_id"),
      (col("doc_id") % 16 + 4).cast("int").as("w"),
      (col("doc_id") % 12 + 4).cast("int").as("h"),
      (col("doc_id") % 997).cast("int").as("seed"))

  /** pixels_ok of a gradient fixture: the decoded dims and channel
    * means equal the closed form `means(w, h, seed)` exactly.
    * MediaIntake.tiffStream applies it to the streamed TIFFs.
    */
  private[graft] def gradientOk(decoded: (Int, Int, Double, Double, Double),
                                w: Int, h: Int, seed: Int,
                                means: (Int, Int, Int) => (Double, Double, Double)): Boolean = {
    val (dw, dh, mr, mg, mb) = decoded
    val (er, eg, eb) = means(w, h, seed)
    dw == w && dh == h && mr == er && mg == eg && mb == eb
  }

  /** Per-channel means of a gradient fixture's pixels through `decode`,
    * pixels_ok per [[gradientOk]].
    */
  private def gradientPixels(media: DataFrame,
                             decode: Array[Byte] => Option[(Int, Int, Double, Double, Double)],
                             means: (Int, Int, Int) => (Double, Double, Double)): DataFrame =
    decodeRows(media, pixelSchema) { r =>
      val meta = r.getStruct(2)
      decode(r.getAs[Array[Byte]](1)) match {
        case Some(p @ (w, h, mr, mg, mb)) =>
          Row(r.getLong(0), w, h, mr, mg, mb,
              gradientOk(p, meta.getInt(0), meta.getInt(1), meta.getInt(2), means))
        case None => Row(r.getLong(0), 0, 0, 0.0, 0.0, 0.0, false)
      }
    }

  /** tw×th thumbnails of a PNG-gradient fixture through `thumbnail`;
    * `thumb_ok` compares the sampled pixels' FNV (and means) against a
    * formula-only recomputation of the gradient — the codec chain is in
    * the loop on every image, the check path never is.
    */
  private def gradientThumbnails(media: DataFrame, tw: Int, th: Int,
      thumbnail: (Array[Byte], Int, Int) => Option[(Int, Int, Double, Double, Double, Long)]): DataFrame =
    decodeRows(media, thumbSchema) { r =>
      val meta = r.getStruct(2)
      thumbnail(r.getAs[Array[Byte]](1), tw, th) match {
        case Some((w, h, mr, mg, mb, fnv)) =>
          val (er, eg, eb, efnv) = graft.functions.PngPixels.syntheticThumb(
            meta.getInt(0), meta.getInt(1), meta.getInt(2), tw, th)
          Row(r.getLong(0), w, h, mr, mg, mb, fnv,
              fnv == efnv && mr == er && mg == eg && mb == eb)
        case None => Row(r.getLong(0), 0, 0, 0.0, 0.0, 0.0, 0L, false)
      }
    }

  /** Image table whose payloads are COMPLETE baseline TIFFs (TIFF 6.0
    * strip-organized uncompressed RGB, RowsPerStrip cycling 2-4, byte
    * order alternating II/MM on doc_id) carrying the suite's shared
    * gradient — the container-format sixth of the still-image family.
    */
  def tiffTable(t: Tables): DataFrame =
    synthTable(gradientDims(t)) { r =>
      graft.functions.TiffPixels.syntheticTiff(
        r.getInt(1), r.getInt(2), r.getInt(3), bigEndian = r.getLong(0) % 2 == 1)
    }

  /** TIFF pixel decode to per-channel means, cross-checked against the
    * closed-form gradient — the pixels_ok contract of
    * [[decodePngPixels]].
    */
  def decodeTiffPixels(media: DataFrame): DataFrame =
    gradientPixels(media, graft.functions.TiffPixels.decode,
      graft.functions.PngPixels.syntheticMeans)

  /** Thumbnails through the TIFF container: full IFD walk + strip
    * raster + the shared nearest-neighbor sampler/FNV walk, cross-
    * checked against the formula-only gradient recomputation — same
    * contract as [[decodePngThumbnails]].
    */
  def decodeTiffThumbnails(media: DataFrame, tw: Int, th: Int): DataFrame =
    gradientThumbnails(media, tw, th, graft.functions.TiffPixels.thumbnail)

  /** Image table whose payloads are COMPLETE compressed PNGs (real zlib
    * IDAT streams, gradient pixels, rows cycling through all five
    * filter types) — the compressed-format twin of [[bmpTable]].
    * Dimensions stay small (≤19×15) so 500 full images are cheap.
    */
  def pngTable(t: Tables): DataFrame =
    synthTable(gradientDims(t)) { r =>
      graft.functions.PngPixels.syntheticPng(r.getInt(1), r.getInt(2), r.getInt(3))
    }

  /** Image table whose payloads are COMPLETE GIF89a files (real LZW
    * streams over a 64-color palette, gradient indices) — the second
    * compressed-format table after [[pngTable]].
    */
  def gifTable(t: Tables): DataFrame =
    synthTable(gradientDims(t)) { r =>
      graft.functions.GifPixels.syntheticGif(r.getInt(1), r.getInt(2), r.getInt(3))
    }

  /** REAL pixel decode for the second COMPRESSED image format: GIF LZW
    * inflate + palette mapping (graft.functions.GifPixels,
    * dependency-free); `pixels_ok` cross-checks decoded channel means
    * against the index/palette formulas — a gradient, so a wrong LZW or
    * palette path cannot pass.
    */
  def decodeGifPixels(media: DataFrame): DataFrame =
    gradientPixels(media, graft.functions.GifPixels.decode,
      graft.functions.GifPixels.syntheticMeans)

  /** Image table whose payloads are COMPLETE baseline JPEGs — encoded
    * by the JDK's own writer (javax.imageio, in every JVM), 4:2:0
    * chroma at seed-varied quality: real DCT entropy-coded streams,
    * not synthetic headers.
    */
  def jpegTable(t: Tables): DataFrame =
    synthTable(t.documents.select(
      col("doc_id"),
      (col("doc_id") % 16 + 9).cast("int").as("w"),
      (col("doc_id") % 12 + 9).cast("int").as("h"),
      (col("doc_id") % 997).cast("int").as("seed"))) { r =>
      // every third payload is PROGRESSIVE (the JDK writer's multi-scan
      // successive-approximation script), so the driver's hash gate and
      // the runtime JDK cross-check exercise both entropy paths
      graft.functions.JpegPixels.syntheticJpeg(
        r.getInt(1), r.getInt(2), r.getInt(3),
        0.6f + (r.getInt(3) % 5) * 0.08f,
        progressive = r.getInt(3) % 3 == 0)
    }

  val exifSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("byte_order", StringType),
    StructField("make", StringType),
    StructField("model", StringType),
    StructField("orientation", IntegerType),
    StructField("date_time", StringType),
    StructField("iso", IntegerType),
    StructField("exp_num", IntegerType),
    StructField("exp_den", IntegerType),
  ))

  /** JPEGs carrying a CLOSED-FORM EXIF APP1: every field derives from
    * doc_id (byte order alternates II/MM so both TIFF endianness paths
    * sit inside the driver's hash gate), spliced after SOI the way
    * camera encoders place it.
    */
  def exifTable(t: Tables): DataFrame =
    synthTable(t.documents.select(
      col("doc_id"),
      (col("doc_id") % 16 + 9).cast("int").as("w"),
      (col("doc_id") % 12 + 9).cast("int").as("h")), withMeta = false) { r =>
      val d = r.getLong(0)
      val e = graft.functions.ExifMeta.Exif(
        if (d % 2 == 0) "MM" else "II",
        s"Make${d % 5}", s"Model${d % 7}",
        (d % 8 + 1).toInt,
        f"2024:01:${d % 28 + 1}%02d 12:00:00",
        ((d % 4 + 1) * 100).toInt,
        1, 1 << ((d % 6) + 1).toInt)
      graft.functions.ExifMeta.spliceApp1(
        graft.functions.JpegPixels.syntheticJpeg(
          r.getInt(1), r.getInt(2), (d % 997).toInt),
        graft.functions.ExifMeta.buildApp1(e))
    }

  /** REAL EXIF extraction (graft.functions.ExifMeta: APP1 walk + TIFF
    * IFD parse, both byte orders) — the image-metadata prong of the
    * multimodal pipeline: orientation for correct resize, capture time
    * for provenance, camera fields for source stratification. The gate
    * hash-compares every parsed field against the oracle's closed-form
    * recomputation, so a parse that returns-but-misreads any field
    * (offset, endianness, sub-IFD) is a red row, not a silent skew. A
    * failed parse emits the never-matching sentinel row.
    */
  def decodeExif(media: DataFrame): DataFrame =
    decodeRows(media, exifSchema, withMeta = false) { r =>
      graft.functions.ExifMeta.parse(r.getAs[Array[Byte]](1)) match {
        case Some(e) =>
          Row(r.getLong(0), e.byteOrder, e.make, e.model, e.orientation,
              e.dateTime, e.iso, e.expNum, e.expDen)
        case None =>
          Row(r.getLong(0), "none", "", "", 0, "", 0, 0, 0)
      }
    }

  val mp3Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_frames", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("bitrate_kbps", IntegerType),
    StructField("duration_ms", LongType),
    StructField("has_id3", BooleanType),
  ))

  /** Valid CBR MPEG-1 Layer III streams closed-form from doc_id —
    * bitrate/samplerate indices, frame count, the per-frame padding
    * bit (every fifth stream), and an ID3v2 prefix (every fourth) all
    * vary, so the gate exercises the padded-walk and tag-skip paths.
    */
  def mp3Table(t: Tables): DataFrame =
    synthTable(t.documents.select(col("doc_id")), withMeta = false) { r =>
      val d = r.getLong(0)
      graft.functions.Mp3Frames.synthetic(
        frames = (d % 20 + 5).toInt,
        brIdx = (d % 14 + 1).toInt,
        srIdx = (d % 3).toInt,
        padded = d % 5 == 0,
        id3Bytes = if (d % 4 == 0) 64 else 0)
    }

  val id3Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("title", StringType),
    StructField("artist", StringType),
    StructField("album", StringType),
    StructField("n_frames", IntegerType),
  ))

  /** MP3 streams opening with a REAL ID3v2.4 tag (TIT2/TPE1/TALB text
    * frames, closed-form from doc_id) ahead of the CBR frames.
    */
  def id3Table(t: Tables): DataFrame =
    synthTable(t.documents.select(col("doc_id")), withMeta = false) { r =>
      val d = r.getLong(0)
      val tag = graft.functions.Mp3Frames.syntheticId3(
        graft.functions.Mp3Frames.Id3Tags(
          s"Title${d % 11}", s"Artist${d % 13}", s"Album${d % 9}"),
        minBytes = 64)
      val frames = graft.functions.Mp3Frames.synthetic(
        frames = (d % 10 + 3).toInt, brIdx = (d % 14 + 1).toInt,
        srIdx = (d % 3).toInt, padded = false, id3Bytes = 0)
      tag ++ frames
    }

  /** REAL ID3v2 tag extraction (graft.functions.Mp3Frames.parseId3Tags:
    * frame walk inside the syncsafe-sized tag block) plus the audio
    * frame count from the same stream — proving the tag skip and the
    * frame walk compose. Hash-gated field-for-field against the
    * closed-form oracle.
    */
  def decodeId3Tags(media: DataFrame): DataFrame =
    decodeRows(media, id3Schema, withMeta = false) { r =>
      val payload = r.getAs[Array[Byte]](1)
      (graft.functions.Mp3Frames.parseId3Tags(payload),
       graft.functions.Mp3Frames.parse(payload)) match {
        case (Some(t), Some(m)) =>
          Row(r.getLong(0), t.title, t.artist, t.album, m.nFrames)
        case _ => Row(r.getLong(0), "", "", "", 0)
      }
    }

  /** REAL MP3 frame-header walk (graft.functions.Mp3Frames): frame
    * count, sample rate, bitrate, and duration without decoding audio
    * — the compressed-audio triage stage. Hash-gated field-for-field
    * against the oracle's closed-form recomputation; a walk that
    * ignores the padding bit or the ID3 prefix desyncs and reds out.
    */
  def decodeMp3Headers(media: DataFrame): DataFrame =
    decodeRows(media, mp3Schema, withMeta = false) { r =>
      graft.functions.Mp3Frames.parse(r.getAs[Array[Byte]](1)) match {
        case Some(m) =>
          Row(r.getLong(0), m.nFrames, m.sampleRate, m.bitrateKbps,
              m.durationMs, m.hasId3)
        case None =>
          Row(r.getLong(0), 0, 0, 0, 0L, false)
      }
    }

  val flacSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("min_block", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("bits", IntegerType),
    StructField("total_samples", LongType),
    StructField("duration_ms", LongType),
    StructField("n_blocks", IntegerType),
    StructField("vendor", StringType),
    StructField("md5_hex", StringType),
    StructField("header_ok", BooleanType),
  ))

  /** Valid FLAC metadata chains closed-form from doc_id — block sizes,
    * the packed rate/channels/bits/samples word, the 16-byte MD5 tail,
    * a VORBIS_COMMENT block on every third stream (little-endian body)
    * and a PADDING block on every fifth, so the gate exercises the
    * chain walk, the last-block flag, and both endiannesses.
    */
  def flacTable(t: Tables): DataFrame =
    synthTable(t.documents.select(col("doc_id")), withMeta = false) { r =>
      val d = r.getLong(0)
      graft.functions.FlacHeaders.synthetic(
        minBlock = Seq(576, 1024, 4096)((d % 3).toInt),
        maxBlock = 4096,
        sampleRate = Seq(8000, 22050, 44100, 48000)((d % 4).toInt),
        channels = (d % 8).toInt + 1,
        bits = Seq(8, 16, 24)((d % 3).toInt),
        totalSamples = d * 100 + 4096,
        md5 = Array.fill[Byte](16)((d % 251).toByte),
        vendor = if (d % 3 == 0) Some(s"graft${d % 7}") else None,
        paddingBytes = if (d % 5 == 0) 16 else 0)
    }

  /** REAL FLAC metadata walk (graft.functions.FlacHeaders): STREAMINFO
    * fields, block count, VORBIS_COMMENT vendor, and the MD5 tail
    * without decoding audio — the lossless-audio triage twin of
    * [[decodeMp3Headers]]. Hash-gated field-for-field against the
    * closed-form oracle; a walk that mis-sizes a block or misreads the
    * big-endian packed word desyncs and reds out.
    */
  def decodeFlacHeaders(media: DataFrame): DataFrame =
    decodeRows(media, flacSchema, withMeta = false) { r =>
      graft.functions.FlacHeaders.parse(r.getAs[Array[Byte]](1)) match {
        case Some(f) =>
          Row(r.getLong(0), f.minBlock, f.sampleRate, f.channels, f.bits,
              f.totalSamples, f.totalSamples * 1000 / f.sampleRate,
              f.nBlocks, f.vendor, f.md5Hex, true)
        case None => Row(r.getLong(0), 0, 0, 0, 0, 0L, 0L, 0, "", "", false)
      }
    }

  val oggSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("serial", LongType),
    StructField("n_pages", IntegerType),
    StructField("last_granule", LongType),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("nominal_bitrate", IntegerType),
    StructField("duration_ms", LongType),
    StructField("vendor", StringType),
    StructField("header_ok", BooleanType),
  ))

  /** Streams whose payloads are COMPLETE Ogg/Vorbis header chains (BOS
    * identification page, comment page, 0-5 empty audio pages, EOS,
    * every page carrying its real RFC 3533 CRC).
    */
  def oggTable(t: Tables): DataFrame =
    synthTable(t.documents.select(col("doc_id")), withMeta = false) { r =>
      val d = r.getLong(0)
      graft.functions.OggHeaders.synthetic(
        serial = d,
        channels = (d % 8).toInt + 1,
        sampleRate = Seq(8000, 22050, 44100, 48000)((d % 4).toInt),
        nominalBitrate = ((d % 32).toInt + 1) * 16000,
        vendor = s"graft${d % 7}",
        nAudioPages = (d % 6).toInt)
    }

  /** REAL Ogg page walk + Vorbis ident/comment parse
    * (graft.functions.OggHeaders): page accounting with verified CRCs,
    * stream serial, last granule, and the ident fields — the
    * streaming-container triage twin of [[decodeFlacHeaders]]. A walk
    * that mis-sizes a lacing table or miscomputes the unreflected CRC
    * desyncs and reds out.
    */
  def decodeOggHeaders(media: DataFrame): DataFrame =
    decodeRows(media, oggSchema, withMeta = false) { r =>
      graft.functions.OggHeaders.parse(r.getAs[Array[Byte]](1)) match {
        case Some(o) =>
          Row(r.getLong(0), o.serial, o.nPages, o.lastGranule, o.channels,
              o.sampleRate, o.nominalBitrate, o.durationMs, o.vendor, true)
        case None => Row(r.getLong(0), 0L, 0, 0L, 0, 0, 0, 0L, "", false)
      }
    }

  val orientedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("orientation", IntegerType),
    StructField("out_w", IntegerType),
    StructField("out_h", IntegerType),
    StructField("mean_r", DoubleType),
    StructField("mean_g", DoubleType),
    StructField("mean_b", DoubleType),
    StructField("pixel_fnv", LongType),
  ))

  /** EXIF-orientation-normalized decode — the upright-before-resize
    * stage every image pipeline runs (a quarter of phone photos store
    * rotated sensor data): parse the payload's EXIF orientation,
    * decode pixels, apply the inverse transform (ExifMeta.orient),
    * then fingerprint a 4×4 sampled grid of the UPRIGHT raster through
    * the shared sampler (ImageHeaders.thumbnailRaster). The fixtures
    * cycle all 8 orientations, so every transform arm sits inside the
    * oracle hash gate (SF-pinned snapshot — decode is
    * deterministic); the sentinel row surfaces any parse/decode/orient
    * failure as a red row.
    */
  def decodeOrientedThumbs(media: DataFrame): DataFrame =
    decodeRows(media, orientedSchema, withMeta = false) { r =>
      val payload = r.getAs[Array[Byte]](1)
      val row = for {
        e <- graft.functions.ExifMeta.parse(payload)
        (w, h, ch, raster) <- graft.functions.JpegPixels.decodeRaster(payload)
        (up, ow, oh) <- graft.functions.ExifMeta.orient(raster, w, h, ch, e.orientation)
      } yield {
        val (_, _, mr, mg, mb, fnv) =
          graft.functions.ImageHeaders.thumbnailRaster(up, ow, oh, ch, 4, 4)
        Row(r.getLong(0), e.orientation, ow, oh, mr, mg, mb, fnv)
      }
      row.getOrElse(Row(r.getLong(0), 0, 0, 0, 0.0, 0.0, 0.0, 0L))
    }

  /** REAL pixel decode for the DCT-compressed format: hand-rolled
    * baseline JPEG (graft.functions.JpegPixels — marker walk, canonical
    * Huffman, dequantize, IDCT, chroma upsample, YCbCr→RGB). JPEG is
    * lossy so there is no closed-form expected gradient; `pixels_ok`
    * instead cross-checks against the JDK's OWN decoder on the same
    * bytes — two unrelated implementations must agree (dims exact,
    * channel means within 1/255: both use the libjpeg triangle chroma
    * upsample, so only IDCT rounding remains).
    */
  def decodeJpegPixels(media: DataFrame): DataFrame =
    decodeRows(media, pixelSchema) { r =>
      val meta = r.getStruct(2)
      val payload = r.getAs[Array[Byte]](1)
      graft.functions.JpegPixels.decode(payload) match {
        case Some((w, h, mr, mg, mb)) =>
          val ok = graft.functions.JpegPixels.jdkMeans(payload) match {
            case Some((rw, rh, rr, rg, rb)) =>
              w == rw && h == rh && w == meta.getInt(0) && h == meta.getInt(1) &&
                math.abs(mr - rr) <= 1.0 && math.abs(mg - rg) <= 1.0 &&
                math.abs(mb - rb) <= 1.0
            case None => false
          }
          Row(r.getLong(0), w, h,
              math.rint(mr * 10000) / 10000, math.rint(mg * 10000) / 10000,
              math.rint(mb * 10000) / 10000, ok)
        case None => Row(r.getLong(0), 0, 0, 0.0, 0.0, 0.0, false)
      }
    }

  /** DCT-path thumbnails: baseline JPEG decode + the shared
    * nearest-neighbor sampling grid. `thumb_ok` cross-checks the
    * SAMPLED means against the JDK decoder reading the same grid —
    * the tolerance (1/255) absorbs IDCT rounding (the chroma
    * upsampler matches libjpeg's triangle filter); the FNV pins our
    * decoder's own determinism (it cannot be compared across
    * decoders).
    */
  def decodeJpegThumbnails(media: DataFrame, tw: Int, th: Int): DataFrame =
    decodeRows(media, thumbSchema) { r =>
      val payload = r.getAs[Array[Byte]](1)
      graft.functions.JpegPixels.thumbnail(payload, tw, th) match {
        case Some((w, h, mr, mg, mb, fnv)) =>
          val ok = graft.functions.JpegPixels.jdkThumbMeans(payload, tw, th) match {
            case Some((rr, rg, rb)) =>
              math.abs(mr - rr) <= 1.0 && math.abs(mg - rg) <= 1.0 &&
                math.abs(mb - rb) <= 1.0
            case None => false
          }
          Row(r.getLong(0), w, h,
              math.rint(mr * 10000) / 10000, math.rint(mg * 10000) / 10000,
              math.rint(mb * 10000) / 10000, fnv, ok)
        case None => Row(r.getLong(0), 0, 0, 0.0, 0.0, 0.0, 0L, false)
      }
    }

  /** Image table whose payloads are COMPLETE lossless WebPs (real VP8L
    * bitstreams — prefix-coded ARGB with seed-cycled transform paths:
    * plain / subtract-green / per-block predictors / cross-color /
    * meta-groups+color-cache) — the fourth compressed still format
    * after PNG, GIF and JPEG.
    */
  def webpTable(t: Tables): DataFrame =
    synthTable(gradientDims(t)) { r =>
      graft.functions.WebpPixels.syntheticWebp(r.getInt(1), r.getInt(2), r.getInt(3))
    }

  /** REAL pixel decode for the LAST compressed still-image format:
    * full VP8L — RIFF walk, prefix codes, color cache, LZ77, and all
    * four transform inverses (graft.functions.WebpPixels,
    * dependency-free). `pixels_ok` cross-checks decoded channel means
    * against the independent closed-form gradient; because the table
    * cycles five encoding paths by seed, every transform inverse sits
    * inside the oracle hash gate, not just the literal path.
    */
  def decodeWebpPixels(media: DataFrame): DataFrame =
    gradientPixels(media, graft.functions.WebpPixels.decode,
      graft.functions.WebpPixels.syntheticMeans)

  /** REAL pixel decode for the COMPRESSED image format: full PNG chunk
    * walk + zlib inflate + per-row unfilter (graft.functions.PngPixels,
    * dependency-free). `pixels_ok` cross-checks the decoded channel
    * means against an independent closed-form recomputation of the
    * gradient — on a non-constant image, so a wrong unfilter branch
    * cannot pass.
    */
  def decodePngPixels(media: DataFrame): DataFrame =
    gradientPixels(media, graft.functions.PngPixels.decode,
      graft.functions.PngPixels.syntheticMeans)

  /** Thumbnails for the COMPRESSED image path: PNG decode + the same
    * nearest-neighbor sampling grid as the BMP thumbnails, checked as
    * [[gradientThumbnails]] says.
    */
  def decodePngThumbnails(media: DataFrame, tw: Int, th: Int): DataFrame =
    gradientThumbnails(media, tw, th, graft.functions.PngPixels.thumbnail)

  val pcmSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_samples", LongType),
    StructField("rms", DoubleType),
    StructField("peak", IntegerType),
    StructField("samples_ok", BooleanType),
  ))

  /** Audio table whose payloads are COMPLETE PCM16 WAVs carrying a
    * ±amplitude square wave — real decodable waveforms whose RMS equals
    * the amplitude exactly.
    */
  def pcmTable(t: Tables): DataFrame =
    synthTable(t.documents.select(
      col("doc_id"),
      (col("doc_id") % 2 + 1).cast("int").as("channels"),
      (col("doc_id") % 2000 + 100).cast("int").as("frames"),
      (col("doc_id") % 30000 + 1).cast("int").as("amp"))) { r =>
      graft.functions.AudioHeaders.syntheticSquareWav(
        r.getInt(1), 16000, r.getInt(3).toShort, r.getInt(2))
    }

  /** REAL sample decode (PCM16 — raw LE shorts, no codec): RMS and peak
    * amplitude over the actual samples; `samples_ok` cross-checks
    * against the declared square wave (RMS == amplitude exactly).
    */
  def decodePcm(media: DataFrame): DataFrame =
    decodeRows(media, pcmSchema) { r =>
      val meta = r.getStruct(2)
      graft.functions.AudioHeaders.decodePcmSamples(r.getAs[Array[Byte]](1)) match {
        case Some((n, rms, peak)) =>
          Row(r.getLong(0), n, rms, peak,
              n == meta.getInt(0).toLong * meta.getInt(1) &&
                rms == meta.getInt(2).toDouble && peak == meta.getInt(2))
        case None => Row(r.getLong(0), 0L, 0.0, 0, false)
      }
    }

  val aviSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("n_sampled", IntegerType),
    StructField("mean_r", DoubleType),
    StructField("frames_ok", BooleanType),
  ))

  /** Video table whose payloads are COMPLETE uncompressed AVIs (small
    * solid-color '00db' frames, per-frame color drift) — real decodable
    * video, not header fragments.
    */
  def aviTable(t: Tables): DataFrame =
    synthTable(t.documents.select(
      col("doc_id"),
      (col("doc_id") % 8 + 2).cast("int").as("w"),
      (col("doc_id") % 6 + 2).cast("int").as("h"),
      (col("doc_id") % 12 + 2).cast("int").as("frames"),
      (col("doc_id") % 200).cast("int").as("r"))) { r =>
      graft.functions.AviFrames.synthetic(
        r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), 10, 20)
    }

  /** REAL frame-sampling decode (uncompressed AVI — RIFF walking + DIB
    * pixel arrays, no codec): every 2nd frame's pixels average into the
    * sampled means; `frames_ok` cross-checks dimensions, the declared
    * frame count, the ceil(frames/2) sample count, and the mean red
    * channel against the synthesized per-frame color drift (frame i is
    * r+i, so sampled frames 0,2,... average to r + (n_sampled-1)).
    */
  def decodeAviFrames(media: DataFrame, frameStep: Int = 2): DataFrame =
    decodeRows(media, aviSchema) { r =>
      val meta = r.getStruct(2)
      graft.functions.AviFrames.decode(r.getAs[Array[Byte]](1), frameStep) match {
        case Some((w, h, nf, ns, mr, _, _)) =>
          val expectSampled = (meta.getInt(2) + frameStep - 1) / frameStep
          val expectMeanR = meta.getInt(3).toDouble + (expectSampled - 1)
          Row(r.getLong(0), w, h, nf, ns, mr,
              w == meta.getInt(0) && h == meta.getInt(1) &&
                nf == meta.getInt(2) && ns == expectSampled &&
                mr == expectMeanR)
        case None => Row(r.getLong(0), 0, 0, 0, 0, 0.0, false)
      }
    }

  val mjpegSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("n_sampled", IntegerType),
    StructField("mean_r", DoubleType),
    StructField("mean_g", DoubleType),
    StructField("mean_b", DoubleType),
    StructField("frames_ok", BooleanType),
  ))

  /** Video table whose payloads are COMPLETE Motion-JPEG AVIs: a
    * 'vids'/'MJPG' stream header and one real baseline JPEG per
    * '00dc' chunk (JDK-encoded DCT streams, per-frame seed drift) —
    * COMPRESSED video a reference media intake would actually meet,
    * decodable because the codec is the JPEG decoder this library
    * already has.
    */
  def mjpegTable(t: Tables): DataFrame =
    synthTable(t.documents.select(
      col("doc_id"),
      (col("doc_id") % 12 + 9).cast("int").as("w"),
      (col("doc_id") % 10 + 9).cast("int").as("h"),
      (col("doc_id") % 5 + 2).cast("int").as("frames"),
      (col("doc_id") % 997).cast("int").as("seed"))) { r =>
      graft.functions.AviFrames.syntheticMjpeg(
        r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
    }

  /** REAL compressed-video frame sampling: every 2nd MJPEG frame
    * decodes through the hand-rolled baseline-JPEG path
    * (AviFrames.decodeMjpeg); JPEG is lossy so there is no closed-form
    * expected mean — `frames_ok` instead requires every sampled
    * frame's decode to agree with the JDK's own JPEG decoder within
    * 1/255 per channel, plus the container contract (declared dims,
    * frame count, ceil(frames/2) sample count).
    */
  def decodeMjpegFrames(media: DataFrame, frameStep: Int = 2): DataFrame =
    decodeRows(media, mjpegSchema) { r =>
      val meta = r.getStruct(2)
      graft.functions.AviFrames.decodeMjpeg(r.getAs[Array[Byte]](1), frameStep) match {
        case Some((w, h, nf, ns, mr, mg, mb, jdkOk)) =>
          val expectSampled = (meta.getInt(2) + frameStep - 1) / frameStep
          Row(r.getLong(0), w, h, nf, ns,
              math.rint(mr * 10000) / 10000, math.rint(mg * 10000) / 10000,
              math.rint(mb * 10000) / 10000,
              jdkOk && w == meta.getInt(0) && h == meta.getInt(1) &&
                nf == meta.getInt(2) && ns == expectSampled)
        case None => Row(r.getLong(0), 0, 0, 0, 0, 0.0, 0.0, 0.0, false)
      }
    }

  /** Closed-form DuckDB oracles for the synthesized-media entries. Every
    * payload below is a pure function of doc_id (the tables synthesize
    * bytes from doc_id alone), so the expected DECODE output is the same
    * closed form the in-query cross-checks assert — which makes the
    * driver's hash gate a real end-to-end codec check: the Spark side
    * decodes actual bytes, the oracle recomputes the formula, and any
    * decoder regression flips the gate red instead of hiding in rows>0.
    * SF-robust: the formulas hold for every doc_id at every scale.
    */
  /** m_exif_meta's closed-form oracle, shared by the streaming twin
    * (operators.Streaming st_exif_meta) so the stream output is itself
    * hash-gated.
    */
  private[graft] def exifOracle: String = Oracle.ExifMeta

  /** m_ogg_headers' closed-form oracle, shared by the streaming twin
    * (operators.Streaming st_ogg_headers) so the stream output is
    * itself hash-gated.
    */
  private[graft] def oggOracle: String = Oracle.OggHeaders

  /** The shared gradient-pixels oracle (m_png_pixels / m_tiff_pixels /
    * st_tiff_pixels — same fixture dims and formulas).
    */
  private[graft] def pngPixelsOracle: String = Oracle.PngPixels

  private object Oracle {
    /** FNV-1a 64 over a DuckDB list of byte values, folded in HUGEINT
      * mod-2^64 arithmetic and re-signed to match a JVM Long. The xor
      * touches only the low byte (v < 256), so it splits into integer
      * div/mod around a BIGINT-width xor.
      */
    def fnv64(byteListSql: String): String =
      s"""CAST(CASE WHEN fh >= 9223372036854775808::HUGEINT
         |  THEN fh - 18446744073709551616::HUGEINT ELSE fh END AS BIGINT)""".stripMargin
        .replace("fh", s"""(list_reduce(list_prepend(14695981039346656037::HUGEINT,
         |  list_transform($byteListSql, v -> v::HUGEINT)),
         |  (acc, v) -> ((acc // 256 * 256 + xor(acc % 256, v))
         |    * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT))""".stripMargin)

    /** documents projected to the shared (w ≤ 19, h ≤ 15, seed) synth dims. */
    val SmallDims: String =
      """(SELECT doc_id, CAST(doc_id % 16 + 4 AS INT) AS w,
        |  CAST(doc_id % 12 + 4 AS INT) AS h,
        |  CAST(doc_id % 997 AS INT) AS seed FROM documents)""".stripMargin

    val MultimodalMeta: String =
      """SELECT doc_id,
        | ['png','jpeg','webp'][CAST(doc_id % 3 AS INT) + 1] AS format,
        | CAST(doc_id % 640 + 32 AS INT) AS width,
        | CAST(doc_id % 480 + 32 AS INT) AS height,
        | CAST(strlen(text) AS BIGINT) AS n_bytes,
        | CASE WHEN strlen(text) = 0 THEN 0.0
        |   ELSE CAST(list_sum(list_transform(string_split(text, ''), c -> unicode(c))) AS DOUBLE)
        |     / strlen(text) END AS mean_byte,
        | CAST(length(list_distinct(list_transform(string_split(text, ''), c -> unicode(c)))) AS INT) AS distinct_bytes
        |FROM documents ORDER BY doc_id""".stripMargin

    val ImageHeaders: String =
      """SELECT doc_id,
        | ['png','gif','bmp'][CAST(doc_id % 3 AS INT) + 1] AS format,
        | CAST(doc_id % 640 + 32 AS INT) AS width,
        | CAST(doc_id % 480 + 32 AS INT) AS height,
        | TRUE AS header_ok
        |FROM documents ORDER BY doc_id""".stripMargin

    /** Closed-form recomputation of the ID3 text frames + frame count
      * the fixtures derive from doc_id.
      */
    val Id3Tags: String =
      """SELECT doc_id,
        | 'Title' || CAST(doc_id % 11 AS VARCHAR) AS title,
        | 'Artist' || CAST(doc_id % 13 AS VARCHAR) AS artist,
        | 'Album' || CAST(doc_id % 9 AS VARCHAR) AS album,
        | CAST(doc_id % 10 + 3 AS INT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin

    /** Closed-form recomputation of the MP3 stream shape the fixtures
      * derive from doc_id — frame walk must land on these exactly.
      */
    val Mp3Headers: String =
      """SELECT doc_id,
        | CAST(doc_id % 20 + 5 AS INT) AS n_frames,
        | CAST([44100,48000,32000][CAST(doc_id % 3 AS INT) + 1] AS INT) AS sample_rate,
        | CAST([32,40,48,56,64,80,96,112,128,160,192,224,256,320]
        |   [CAST(doc_id % 14 AS INT) + 1] AS INT) AS bitrate_kbps,
        | CAST((doc_id % 20 + 5) * 1152 * 1000
        |   // [44100,48000,32000][CAST(doc_id % 3 AS INT) + 1] AS BIGINT) AS duration_ms,
        | doc_id % 4 = 0 AS has_id3
        |FROM documents ORDER BY doc_id""".stripMargin

    /** Closed-form recomputation of every EXIF field the fixtures
      * derive from doc_id — the parse must land on these exactly.
      */
    val ExifMeta: String =
      """SELECT doc_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'MM' ELSE 'II' END AS byte_order,
        | 'Make' || CAST(doc_id % 5 AS VARCHAR) AS make,
        | 'Model' || CAST(doc_id % 7 AS VARCHAR) AS model,
        | CAST(doc_id % 8 + 1 AS INT) AS orientation,
        | '2024:01:' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |   || ' 12:00:00' AS date_time,
        | CAST((doc_id % 4 + 1) * 100 AS INT) AS iso,
        | CAST(1 AS INT) AS exp_num,
        | CAST(round(2 ** (doc_id % 6 + 1)) AS INT) AS exp_den
        |FROM documents ORDER BY doc_id""".stripMargin

    val AudioHeaders: String =
      """SELECT doc_id,
        | CAST(doc_id % 2 + 1 AS INT) AS channels,
        | [8000,16000,44100][CAST(doc_id % 3 AS INT) + 1] AS sample_rate,
        | CAST(16 AS INT) AS bits,
        | CAST((doc_id % 48000 + 1000) * 1000
        |   // ([8000,16000,44100][CAST(doc_id % 3 AS INT) + 1]) AS BIGINT) AS duration_ms,
        | TRUE AS header_ok
        |FROM documents ORDER BY doc_id""".stripMargin

    /** Closed-form recomputation of every FLAC STREAMINFO field the
      * fixtures derive from doc_id — the metadata walk must land on
      * these exactly (block count proves the chain walk, vendor the
      * little-endian VORBIS_COMMENT framing, md5_hex the raw tail).
      */
    val FlacHeaders: String =
      """SELECT doc_id,
        | CAST([576,1024,4096][CAST(doc_id % 3 AS INT) + 1] AS INT) AS min_block,
        | CAST([8000,22050,44100,48000][CAST(doc_id % 4 AS INT) + 1] AS INT) AS sample_rate,
        | CAST(doc_id % 8 + 1 AS INT) AS channels,
        | CAST([8,16,24][CAST(doc_id % 3 AS INT) + 1] AS INT) AS bits,
        | CAST(doc_id * 100 + 4096 AS BIGINT) AS total_samples,
        | CAST((doc_id * 100 + 4096) * 1000
        |   // ([8000,22050,44100,48000][CAST(doc_id % 4 AS INT) + 1]) AS BIGINT) AS duration_ms,
        | CAST(1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
        |        + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS INT) AS n_blocks,
        | CASE WHEN doc_id % 3 = 0 THEN 'graft' || CAST(doc_id % 7 AS VARCHAR)
        |      ELSE '' END AS vendor,
        | repeat(lpad(lower(hex(doc_id % 251)), 2, '0'), 16) AS md5_hex,
        | TRUE AS header_ok
        |FROM documents ORDER BY doc_id""".stripMargin

    val OggHeaders: String =
      """SELECT doc_id,
        | CAST(doc_id AS BIGINT) AS serial,
        | CAST(doc_id % 6 + 2 AS INT) AS n_pages,
        | CAST((doc_id % 6) * 1024 AS BIGINT) AS last_granule,
        | CAST(doc_id % 8 + 1 AS INT) AS channels,
        | CAST([8000,22050,44100,48000][CAST(doc_id % 4 AS INT) + 1] AS INT) AS sample_rate,
        | CAST((doc_id % 32 + 1) * 16000 AS INT) AS nominal_bitrate,
        | CAST((doc_id % 6) * 1024 * 1000
        |   // ([8000,22050,44100,48000][CAST(doc_id % 4 AS INT) + 1]) AS BIGINT) AS duration_ms,
        | 'graft' || CAST(doc_id % 7 AS VARCHAR) AS vendor,
        | TRUE AS header_ok
        |FROM documents ORDER BY doc_id""".stripMargin

    val VideoHeaders: String =
      """SELECT doc_id,
        | ['isom','mp42'][CAST(doc_id % 2 AS INT) + 1] AS brand,
        | [600,1000,90000][CAST(doc_id % 3 AS INT) + 1] AS timescale,
        | CAST((doc_id % 3600 + 1) * 1000 AS BIGINT) AS duration_ms,
        | TRUE AS header_ok
        |FROM documents ORDER BY doc_id""".stripMargin

    val BmpPixels: String =
      """SELECT doc_id,
        | CAST(doc_id % 16 + 4 AS INT) AS width,
        | CAST(doc_id % 12 + 4 AS INT) AS height,
        | CAST(doc_id % 256 AS DOUBLE) AS mean_r,
        | CAST(doc_id * 7 % 256 AS DOUBLE) AS mean_g,
        | CAST(doc_id * 13 % 256 AS DOUBLE) AS mean_b,
        | TRUE AS pixels_ok
        |FROM documents ORDER BY doc_id""".stripMargin

    val BmpThumbnail: String = {
      // solid color ⇒ every sampled pixel is (b,g,r) = the declared color,
      // mixed in storage order B,G,R per sample, 16 samples
      val bytes = "flatten(list_transform(range(16), i -> [doc_id * 13 % 256, doc_id * 7 % 256, doc_id % 256]))"
      s"""SELECT doc_id,
         | CAST(4 AS INT) AS thumb_w, CAST(4 AS INT) AS thumb_h,
         | CAST(doc_id % 256 AS DOUBLE) AS mean_r,
         | CAST(doc_id * 7 % 256 AS DOUBLE) AS mean_g,
         | CAST(doc_id * 13 % 256 AS DOUBLE) AS mean_b,
         | ${fnv64(bytes)} AS pixel_fnv,
         | TRUE AS thumb_ok
         |FROM documents ORDER BY doc_id""".stripMargin
    }

    val PngPixels: String =
      s"""SELECT doc_id, w AS width, h AS height,
         | CAST(list_sum(flatten(list_transform(range(h), y -> list_transform(range(w), x -> (x*3+seed)%256)))) AS DOUBLE) / (w*h) AS mean_r,
         | CAST(list_sum(flatten(list_transform(range(h), y -> list_transform(range(w), x -> (y*5+seed*7)%256)))) AS DOUBLE) / (w*h) AS mean_g,
         | CAST(list_sum(flatten(list_transform(range(h), y -> list_transform(range(w), x -> (x+y+seed*13)%256)))) AS DOUBLE) / (w*h) AS mean_b,
         | TRUE AS pixels_ok
         |FROM $SmallDims t ORDER BY doc_id""".stripMargin

    val PngThumbnail: String = {
      // nearest-neighbor grid: source pixel (tx·w/4, ty·h/4), R,G,B per
      // sample in (ty, tx) raster order — the same walk thumbnail() takes
      val samples =
        """flatten(list_transform(range(4), ty -> flatten(list_transform(range(4), tx ->
          |  [(tx*w//4*3+seed)%256, (ty*h//4*5+seed*7)%256, (tx*w//4 + ty*h//4 + seed*13)%256]))))""".stripMargin
      s"""SELECT doc_id, CAST(4 AS INT) AS thumb_w, CAST(4 AS INT) AS thumb_h,
         | CAST(list_sum(list_transform(range(16), i -> ($samples)[3*i+1])) AS DOUBLE) / 16 AS mean_r,
         | CAST(list_sum(list_transform(range(16), i -> ($samples)[3*i+2])) AS DOUBLE) / 16 AS mean_g,
         | CAST(list_sum(list_transform(range(16), i -> ($samples)[3*i+3])) AS DOUBLE) / 16 AS mean_b,
         | ${fnv64(samples)} AS pixel_fnv,
         | TRUE AS thumb_ok
         |FROM $SmallDims t ORDER BY doc_id""".stripMargin
    }

    /** Same gradient family as PngPixels — the WebP table carries the
      * identical pixel content under five VP8L encodings, so the
      * closed-form means are the same formulas.
      */
    val WebpPixels: String =
      s"""SELECT doc_id, w AS width, h AS height,
         | CAST(list_sum(flatten(list_transform(range(h), y -> list_transform(range(w), x -> (x*3+seed)%256)))) AS DOUBLE) / (w*h) AS mean_r,
         | CAST(list_sum(flatten(list_transform(range(h), y -> list_transform(range(w), x -> (y*5+seed*7)%256)))) AS DOUBLE) / (w*h) AS mean_g,
         | CAST(list_sum(flatten(list_transform(range(h), y -> list_transform(range(w), x -> (x+y+seed*13)%256)))) AS DOUBLE) / (w*h) AS mean_b,
         | TRUE AS pixels_ok
         |FROM $SmallDims t ORDER BY doc_id""".stripMargin

    val GifPixels: String =
      s"""SELECT doc_id, w AS width, h AS height,
         | CAST(list_sum(flatten(list_transform(range(h), y -> list_transform(range(w), x -> ((x*7+y*13+seed)%64)*4%256)))) AS DOUBLE) / (w*h) AS mean_r,
         | CAST(list_sum(flatten(list_transform(range(h), y -> list_transform(range(w), x -> ((x*7+y*13+seed)%64)*9%256)))) AS DOUBLE) / (w*h) AS mean_g,
         | CAST(list_sum(flatten(list_transform(range(h), y -> list_transform(range(w), x -> ((x*7+y*13+seed)%64)*14%256)))) AS DOUBLE) / (w*h) AS mean_b,
         | TRUE AS pixels_ok
         |FROM $SmallDims t ORDER BY doc_id""".stripMargin

    val PcmSamples: String =
      """SELECT doc_id,
        | CAST((doc_id % 2 + 1) * (doc_id % 2000 + 100) AS BIGINT) AS n_samples,
        | CAST(doc_id % 30000 + 1 AS DOUBLE) AS rms,
        | CAST(doc_id % 30000 + 1 AS INT) AS peak,
        | TRUE AS samples_ok
        |FROM documents ORDER BY doc_id""".stripMargin

    val AviFrames: String =
      """SELECT doc_id,
        | CAST(doc_id % 8 + 2 AS INT) AS width,
        | CAST(doc_id % 6 + 2 AS INT) AS height,
        | CAST(doc_id % 12 + 2 AS INT) AS n_frames,
        | CAST((doc_id % 12 + 2 + 1) // 2 AS INT) AS n_sampled,
        | CAST(doc_id % 200 + (doc_id % 12 + 2 + 1) // 2 - 1 AS DOUBLE) AS mean_r,
        | TRUE AS frames_ok
        |FROM documents ORDER BY doc_id""".stripMargin
  }

  override def entries: Seq[QueryDef] = Seq(
    QueryDef(
      "m_multimodal_meta",
      (s, dir) =>
        extractFeatures(mediaTable(Tables(s, dir))).orderBy("doc_id"),
      Some(Oracle.MultimodalMeta),
    ),
    // real header-metadata decode over synthesized-but-valid image bytes
    QueryDef(
      "m_image_headers",
      (s, dir) =>
        decodeHeaders(imageTable(Tables(s, dir))).orderBy("doc_id"),
      Some(Oracle.ImageHeaders),
    ),
    // real audio (WAV/RIFF) header decode — the audio modality's twin
    QueryDef(
      "m_audio_headers",
      (s, dir) =>
        decodeAudioHeaders(audioTable(Tables(s, dir))).orderBy("doc_id"),
      Some(Oracle.AudioHeaders),
    ),
    // real video (MP4 ftyp/moov/mvhd) header decode — completes the triple
    QueryDef(
      "m_video_headers",
      (s, dir) =>
        decodeVideoHeaders(videoTable(Tables(s, dir))).orderBy("doc_id"),
      Some(Oracle.VideoHeaders),
    ),
    // real EXIF extraction from JPEG APP1 TIFF streams, both byte
    // orders, hash-gated against a closed-form field oracle
    QueryDef(
      "m_exif_meta",
      (s, dir) =>
        decodeExif(exifTable(Tables(s, dir))).orderBy("doc_id"),
      Some(Oracle.ExifMeta),
    ),
    // real MP3 frame-header walk (padding-bit honoring, ID3v2 skip),
    // closed-form-oracled
    QueryDef(
      "m_mp3_headers",
      (s, dir) =>
        decodeMp3Headers(mp3Table(Tables(s, dir))).orderBy("doc_id"),
      Some(Oracle.Mp3Headers),
    ),
    // real FLAC metadata-chain walk (STREAMINFO + VORBIS_COMMENT +
    // PADDING), closed-form-oracled — the lossless-audio triage stage
    QueryDef(
      "m_flac_headers",
      (s, dir) =>
        decodeFlacHeaders(flacTable(Tables(s, dir))).orderBy("doc_id"),
      Some(Oracle.FlacHeaders),
    ),
    // real Ogg page walk (verified RFC 3533 CRCs) + Vorbis ident/
    // comment headers, closed-form-oracled — the streaming-audio
    // container triage stage
    QueryDef(
      "m_ogg_headers",
      (s, dir) =>
        decodeOggHeaders(oggTable(Tables(s, dir))).orderBy("doc_id"),
      Some(Oracle.OggHeaders),
    ),
    // real ID3v2.4 text-frame extraction composed with the frame walk,
    // closed-form-oracled
    QueryDef(
      "m_id3_tags",
      (s, dir) =>
        decodeId3Tags(id3Table(Tables(s, dir))).orderBy("doc_id"),
      Some(Oracle.Id3Tags),
    ),
    // EXIF-orientation-normalized decode: all 8 transform arms inside
    // the gate, SF-pinned snapshot oracle
    QueryDef(
      "m_oriented_thumb",
      (s, dir) =>
        decodeOrientedThumbs(exifTable(Tables(s, dir))).orderBy("doc_id"),
      Some(graft.api.ParseSnapshots.sfPinnedSql("m_oriented_thumb")),
    ),
    // END-TO-END pixel decode: complete 24bpp BMPs decoded to
    // per-channel means with a declared-color cross-check — the
    // uncompressed member of the still-image decoders (PNG, TIFF, WebP,
    // GIF and JPEG follow)
    QueryDef(
      "m_bmp_pixels",
      (s, dir) =>
        decodePixels(bmpTable(Tables(s, dir))).orderBy("doc_id"),
      Some(Oracle.BmpPixels),
    ),
    // END-TO-END resize: 4×4 nearest-neighbor thumbnails of the real
    // BMPs — the multimodal brief's resize stage, with a positional
    // FNV fingerprint of the sampled bytes (means can't fake sample
    // positions); ThumbnailSpec pins the sampler against an
    // independent gradient-image recomputation
    QueryDef(
      "m_bmp_thumbnail",
      (s, dir) =>
        decodeThumbnails(bmpTable(Tables(s, dir)), 4, 4).orderBy("doc_id"),
      Some(Oracle.BmpThumbnail),
    ),
    // END-TO-END COMPRESSED-format pixel decode: complete PNGs (zlib
    // IDAT + all five row filters) decoded to per-channel means and
    // cross-checked against an independent gradient recomputation —
    // kills the last mainstream-image stub
    QueryDef(
      "m_png_pixels",
      (s, dir) =>
        decodePngPixels(pngTable(Tables(s, dir))).orderBy("doc_id"),
      Some(Oracle.PngPixels),
    ),
    // the sixth still-image container end to end: complete baseline
    // TIFFs (strip-organized uncompressed RGB, BOTH byte orders, inline
    // and at-offset IFD values) decoded by the full TIFF 6.0 IFD walk
    // and cross-checked against the shared closed-form gradient — the
    // fixture dims/formulas match pngTable's, so the entry reuses
    // Oracle.PngPixels through an entirely different byte path
    QueryDef(
      "m_tiff_pixels",
      (s, dir) =>
        decodeTiffPixels(tiffTable(Tables(s, dir))).orderBy("doc_id"),
      Some(Oracle.PngPixels),
    ),
    // thumbnails through the TIFF container: the same gradient and
    // sampler as the PNG thumbnails, so the entry shares
    // Oracle.PngThumbnail through the IFD/strip byte path
    QueryDef(
      "m_tiff_thumbnail",
      (s, dir) =>
        decodeTiffThumbnails(tiffTable(Tables(s, dir)), 4, 4).orderBy("doc_id"),
      Some(Oracle.PngThumbnail),
    ),
    // the LAST still-image format end to end: complete lossless WebPs
    // (real VP8L — five encoding paths cycled by seed: literals,
    // subtract-green, all 14 predictor modes, cross-color, meta
    // groups + color cache) decoded by the full spec decoder and
    // cross-checked against the closed-form gradient — no still-image
    // codec stub remains
    QueryDef(
      "m_webp_pixels",
      (s, dir) =>
        decodeWebpPixels(webpTable(Tables(s, dir))).orderBy("doc_id"),
      Some(Oracle.WebpPixels),
    ),
    // second COMPRESSED format end to end: complete GIF89a files (real
    // LZW streams) decoded to per-channel means and cross-checked
    // against the index/palette formulas
    QueryDef(
      "m_gif_pixels",
      (s, dir) =>
        decodeGifPixels(gifTable(Tables(s, dir))).orderBy("doc_id"),
      Some(Oracle.GifPixels),
    ),
    // the DCT family end to end: complete baseline JPEGs (JDK-encoded
    // 4:2:0 streams) decoded by the hand-rolled Huffman+IDCT path and
    // cross-checked at runtime against the JDK's own decoder — with
    // this no mainstream STILL-image format keeps a stub (video
    // codecs remain the declared non-goal)
    QueryDef(
      "m_jpeg_pixels",
      (s, dir) =>
        decodeJpegPixels(jpegTable(Tables(s, dir))).orderBy("doc_id"),
      Some(graft.api.ParseSnapshots.sfPinnedSql("m_jpeg_pixels")),
    ),
    // DCT-path thumbnails: JPEG decode + the shared nearest-neighbor
    // grid, sampled means cross-checked against the JDK decoder on
    // the same grid
    QueryDef(
      "m_jpeg_thumbnail",
      (s, dir) =>
        decodeJpegThumbnails(jpegTable(Tables(s, dir)), 4, 4).orderBy("doc_id"),
      Some(graft.api.ParseSnapshots.sfPinnedSql("m_jpeg_thumbnail")),
    ),
    // COMPRESSED-path thumbnails: PNG decode + nearest-neighbor resize,
    // FNV/mean cross-checked against a formula-only recomputation
    QueryDef(
      "m_png_thumbnail",
      (s, dir) =>
        decodePngThumbnails(pngTable(Tables(s, dir)), 4, 4).orderBy("doc_id"),
      Some(Oracle.PngThumbnail),
    ),
    // END-TO-END sample decode: complete PCM16 WAV square waves decoded
    // to RMS/peak with an exact-amplitude cross-check — the audio
    // modality's twin of m_bmp_pixels
    QueryDef(
      "m_pcm_samples",
      (s, dir) =>
        decodePcm(pcmTable(Tables(s, dir))).orderBy("doc_id"),
      Some(Oracle.PcmSamples),
    ),
    // END-TO-END video FRAME-SAMPLING: complete uncompressed AVIs
    // (RIFF + '00db' DIB frames), every 2nd frame's pixels decoded and
    // averaged, with exact cross-checks on dimensions, frame count,
    // sample count, and the sampled mean under the per-frame color
    // drift — the codec-free container; m_mjpeg_frames below samples
    // the compressed Motion-JPEG case
    QueryDef(
      "m_avi_frames",
      (s, dir) =>
        decodeAviFrames(aviTable(Tables(s, dir))).orderBy("doc_id"),
      Some(Oracle.AviFrames),
    ),
    // COMPRESSED video: Motion-JPEG AVI frame sampling — the container
    // walk (stream headers, codec fourcc gate) + the baseline-JPEG
    // decoder per sampled frame, every frame cross-checked in-query
    // against the JDK's decoder; lossy DCT means pin via SF snapshot
    QueryDef(
      "m_mjpeg_frames",
      (s, dir) =>
        decodeMjpegFrames(mjpegTable(Tables(s, dir))).orderBy("doc_id"),
      Some(graft.api.ParseSnapshots.sfPinnedSql("m_mjpeg_frames")),
    ),
    // IMAGE near-dup by perceptual hash: real pixel decode → DCT pHash
    // → the same banded 64-bit Hamming join simhash uses for text
    // (shared cap, shared verification shape). Scene siblings are
    // brightness/tile variants of one texture — pHash's DC exclusion
    // makes brightness invariance exact, so the pairs are the in-scene
    // cliques. DCT floats have no DuckDB twin → SF-pinned snapshot;
    // PerceptualHashSpec carries the independent invariance checks.
    QueryDef(
      "m_phash_neardup",
      (s, dir) => phashPairs(phashImageTable(Tables(s, dir))).orderBy("doc_a", "doc_b"),
      Some(graft.api.ParseSnapshots.sfPinnedSql("m_phash_neardup")),
    ),
    // AUDIO near-dup by 64-bit fingerprint: real WAV decode → 32×32
    // time×frequency log-energy grid → the SAME DCT-sign hash and the
    // SAME banded Hamming join as image pHash / text simhash. Scene
    // siblings are gain/segment variants of one melody — exact gain
    // scaling of the PCM is structurally hash-invariant (DC-only
    // shift), and tones RE-SYNTHESIZED at different amps drift only by
    // int16 quantization noise (≤4 bits measured), so gain-only
    // variants pair within the Hamming-6 window. Trig-heavy floats
    // have no DuckDB twin → SF-pinned snapshot; AudioFingerprintSpec
    // carries the independent invariance checks.
    QueryDef(
      "m_audio_neardup",
      (s, dir) => audioFpPairs(audioFpTable(Tables(s, dir))).orderBy("doc_a", "doc_b"),
      Some(graft.api.ParseSnapshots.sfPinnedSql("m_audio_neardup")),
    ),
  )

  /** Image table for perceptual near-dup: one 64×48 texture per SCENE
    * (doc_id / 10 — ten docs per scene, so SCENE COUNT grows with the
    * corpus and stays disjoint across ScaleDemo's id-shifted replicas;
    * a modulo scene would alias every replica into the same 50 scenes
    * and grow pair volume quadratically at scale), each doc a mild
    * variant — brightness shift (DC-only under pHash) plus a small
    * single-tile delta. Real BMP bytes; the decode in phashPairs
    * parses them, no side channel.
    */
  def phashImageTable(t: Tables): DataFrame =
    synthTable(t.documents.select(col("doc_id")), withMeta = false) { r =>
      val id = r.getLong(0)
      val variant = (id % 10).toInt
      graft.functions.ImageHeaders.patternBmp(64, 48, seed = id / 10,
        brightness = (variant % 8) * 4, tileDelta = (variant % 3) * 5,
        tileIdx = variant % 6)
    }

  private val hash64Schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("h", LongType)))

  /** Banded Hamming-≤6 pairing over a (doc_id, h) 64-bit hash frame —
    * the 4×16-bit band equi-join with the shared oversized-bucket cap
    * from Dedup.simhash64PairsFrom, so every 64-bit perceptual hash
    * (text simhash, image pHash, audio fingerprint) rides one scale
    * argument: banded hash join, never all-pairs, hot buckets dropped
    * by broadcast anti-join.
    */
  private def hamming64Pairs(hashed: DataFrame, maxBucket: Int): DataFrame = {
    val banded = hashed
      .select(col("doc_id"), col("h"),
        posexplode(expr("transform(sequence(0, 3), i -> (h >> (i * 16)) & 65535)"))
          .as(Seq("band_i", "band_v")))
      .persist()
    Materialize(Dedup.simhash64PairsFrom(banded, maxBucket), banded)
  }

  /** Near-dup image pairs (Hamming ≤ 6 on the 64-bit pHash) over a
    * (doc_id, payload) media frame. The hash is a per-row decode
    * (embarrassingly parallel; a payload that does not decode has no
    * hash and no row); pairing is the shared [[hamming64Pairs]] banded
    * join.
    */
  def phashPairs(media: DataFrame, maxBucket: Int = Dedup.MaxBucket): DataFrame =
    hamming64Pairs(decodeSome(media, hash64Schema, withMeta = false) { r =>
      graft.functions.PerceptualHash.phash64(r.getAs[Array[Byte]](1))
        .map(h => Row(r.getLong(0), h))
    }, maxBucket)

  /** Audio table for fingerprint near-dup: one 32-segment melody per
    * SCENE (doc_id / 10 — ten docs per scene, scene count scaling with
    * the corpus and disjoint across id-shifted replicas, same argument
    * as [[phashImageTable]]), each doc a variant — a pure gain change
    * (DC-only under the log-energy DCT, so fingerprint-invariant by
    * construction) plus, for two of every three variants, a single
    * segment's tone substituted. Real PCM16 WAV bytes; audioFpPairs
    * decodes them — no side channel.
    */
  def audioFpTable(t: Tables): DataFrame =
    synthTable(t.documents.select(col("doc_id")), withMeta = false) { r =>
      val id = r.getLong(0)
      val scene = id / 10
      val variant = (id % 10).toInt
      // Melody = 32 tones drawn from a 50-letter scale by a splitmix64
      // mix of (scene, segment): distinct scenes get independent
      // sequences (collision odds ~50^-32), so cross-scene near-dups
      // are structurally absent at ANY corpus scale. Tones stay in
      // [300, 3436] Hz, inside the fingerprint's band range and under
      // the 4 kHz Nyquist of the 8 kHz fixture rate.
      val base = Array.tabulate(32) { s =>
        var x = scene * 0x9e3779b97f4a7c15L + s * 0xbf58476d1ce4e5b9L
        x ^= x >>> 31; x *= 0xff51afd7ed558ccdL; x ^= x >>> 33
        300.0 + 64.0 * java.lang.Long.remainderUnsigned(x, 50L)
      }
      val tones =
        if (variant % 3 == 0) base
        else base.updated(variant % 6, base(variant % 6) + 150.0 * (variant % 3))
      graft.functions.AudioFingerprint.syntheticToneWav(
        8000, amp = 2000.0 * (1 + variant % 5), toneHz = tones.toSeq,
        nSamples = 2048)
    }

  /** Near-dup audio pairs (Hamming ≤ 6 on the 64-bit Haitsma–Kalker
    * style fingerprint, [[graft.functions.AudioFingerprint]]) over a
    * (doc_id, payload) WAV frame — the audio twin of [[phashPairs]]:
    * per-row decode, then the shared [[hamming64Pairs]] banded join.
    * As with simhash/pHash, the 4×16 band join GUARANTEES recall only
    * within Hamming 3 (pigeonhole: ≤3 errors leave one band exact);
    * pairs at distance 4–6 are best-effort candidates and missed when
    * the errors spread across all four bands. An exactly volume-scaled
    * re-encode of a recording hashes identically (the structural
    * invariance AudioFingerprintSpec pins); the fixture's
    * independently-quantized re-syntheses drift ≤4 bits, so gain-only
    * variants always pair.
    */
  def audioFpPairs(media: DataFrame, maxBucket: Int = Dedup.MaxBucket): DataFrame =
    hamming64Pairs(decodeSome(media, hash64Schema, withMeta = false) { r =>
      graft.functions.AudioFingerprint.fingerprint64(r.getAs[Array[Byte]](1))
        .map(h => Row(r.getLong(0), h))
    }, maxBucket)
}
