package graft.functions

/** Baseline TIFF pixel decode — the last mainstream still-image
  * container format in the multimodal suite (BMP/PNG/GIF/JPEG/WebP are
  * [[ImageHeaders]]/[[PngPixels]]/[[GifPixels]]/[[JpegPixels]]/
  * [[WebpPixels]]). Structure per the public TIFF 6.0 specification
  * (Adobe, 1992): a byte-order header (`II` little / `MM` big endian,
  * magic 42), then a chain of IFDs whose 12-byte entries carry
  * (tag, type, count, value-or-offset) — values of 4 bytes or fewer
  * are stored INLINE in the value field, larger ones at the offset.
  * This decoder handles exactly the baseline-RGB profile: uncompressed
  * (Compression = 1), PhotometricInterpretation = 2 (RGB),
  * SamplesPerPixel = 3, BitsPerSample = 8,8,8, strip-organized
  * (StripOffsets / StripByteCounts / RowsPerStrip) — and refuses
  * everything else with None.
  *
  * Parse is total: every read is bounds-checked, offsets and sizes are
  * compared in Long before narrowing (the FlacHeaders convention —
  * crafted counts near Int.MaxValue must not wrap a bounds check), and
  * any structural violation returns None, never throws.
  */
object TiffPixels {

  private def u16(b: Array[Byte], i: Int, be: Boolean): Int =
    if (be) ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
    else ((b(i + 1) & 0xff) << 8) | (b(i) & 0xff)

  private def u32(b: Array[Byte], i: Int, be: Boolean): Long =
    if (be) ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
    else ((b(i + 3) & 0xffL) << 24) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 1) & 0xffL) << 8) | (b(i) & 0xffL)

  private val TypeSize = Map(3 -> 2, 4 -> 4) // SHORT, LONG

  /** Decode a baseline-RGB TIFF to (width, height, meanR, meanG, meanB);
    * None on anything outside the profile or structurally broken.
    */
  def decode(bytes: Array[Byte]): Option[(Int, Int, Double, Double, Double)] =
    decodeRaster(bytes).map { case (w, h, raster) =>
      var (sr, sg, sb) = (0L, 0L, 0L)
      var i = 0
      while (i < raster.length) {
        sr += raster(i) & 0xff; sg += raster(i + 1) & 0xff; sb += raster(i + 2) & 0xff
        i += 3
      }
      val n = (w.toLong * h).toDouble
      (w, h, sr / n, sg / n, sb / n)
    }

  /** Nearest-neighbor tw×th thumbnail over the decoded raster — the
    * shared sampler [[ImageHeaders.thumbnailRaster]], as
    * [[PngPixels.thumbnail]] uses it, so the TIFF thumbnail entry shares
    * the PNG thumbnail's closed-form oracle.
    */
  def thumbnail(bytes: Array[Byte], tw: Int, th: Int): Option[(Int, Int, Double, Double, Double, Long)] = {
    if (tw <= 0 || th <= 0) return None
    decodeRaster(bytes).map { case (w, h, raster) =>
      ImageHeaders.thumbnailRaster(raster, w, h, 3, tw, th)
    }
  }

  /** Full RGB raster (row-major, 3 bytes/pixel) assembled from the
    * strip chain; None outside the baseline profile.
    */
  def decodeRaster(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (bytes.length < 8) return None
    val be =
      if (bytes(0) == 'M' && bytes(1) == 'M') true
      else if (bytes(0) == 'I' && bytes(1) == 'I') false
      else return None
    if (u16(bytes, 2, be) != 42) return None
    val ifdOff = u32(bytes, 4, be)
    if (ifdOff + 2L > bytes.length) return None
    val ifd = ifdOff.toInt
    val nEntries = u16(bytes, ifd, be)
    if (ifd + 2L + 12L * nEntries + 4L > bytes.length) return None

    // tag -> (type, count, position of the 4-byte value field)
    var fields = Map.empty[Int, (Int, Long, Int)]
    var e = 0
    while (e < nEntries) {
      val p = ifd + 2 + 12 * e
      fields += u16(bytes, p, be) -> (u16(bytes, p + 2, be), u32(bytes, p + 4, be), p + 8)
      e += 1
    }

    /** All `count` integer values of a tag, inline or at-offset per the
      * 4-byte rule; None if absent, non-integer-typed, or out of bounds.
      */
    def values(tag: Int): Option[Array[Long]] = fields.get(tag).flatMap {
      case (tpe, count, vpos) =>
        TypeSize.get(tpe).flatMap { sz =>
          if (count < 0L || count > 65536L) None
          else {
            val total = count * sz
            val base: Long = if (total <= 4L) vpos.toLong else u32(bytes, vpos, be)
            if (base + total > bytes.length) None
            else Some(Array.tabulate(count.toInt) { i =>
              val at = (base + i.toLong * sz).toInt
              if (sz == 2) u16(bytes, at, be).toLong else u32(bytes, at, be)
            })
          }
        }
    }
    def scalar(tag: Int): Option[Long] = values(tag).filter(_.length == 1).map(_.head)

    val w = scalar(256).getOrElse(return None)
    val h = scalar(257).getOrElse(return None)
    if (w <= 0L || h <= 0L || w > 65535L || h > 65535L) return None
    if (scalar(259).getOrElse(return None) != 1L) return None // uncompressed only
    if (scalar(262).getOrElse(return None) != 2L) return None // RGB only
    if (scalar(277).getOrElse(1L) != 3L) return None // spec default spp = 1
    val bits = values(258).getOrElse(return None)
    if (!(bits.length == 3 && bits.forall(_ == 8L))) return None
    val rps = scalar(278).getOrElse(h) // spec default: one strip = whole image
    if (rps <= 0L) return None
    val nStrips = ((h + rps - 1) / rps).toInt
    val offs = values(273).getOrElse(return None)
    val cnts = values(279).getOrElse(return None)
    if (offs.length != nStrips || cnts.length != nStrips) return None

    // validate EVERY strip before allocating: a crafted 65535×65535
    // header would otherwise demand a 12.9 GB raster (an OOM is a
    // totality violation as much as a thrown bounds error); overlapping
    // strip offsets also mean total raster bytes can exceed file size
    if (w * h * 3L > (64L << 20)) return None // profile cap, not a spec limit
    var s = 0
    while (s < nStrips) {
      val rows = math.min(rps, h - s.toLong * rps)
      if (cnts(s) != rows * w * 3L) return None
      if (offs(s) < 0L || offs(s) + cnts(s) > bytes.length) return None
      s += 1
    }
    val raster = new Array[Byte]((w * h * 3L).toInt)
    var at = 0
    s = 0
    while (s < nStrips) {
      System.arraycopy(bytes, offs(s).toInt, raster, at, cnts(s).toInt)
      at += cnts(s).toInt
      s += 1
    }
    Some((w.toInt, h.toInt, raster))
  }

  /** Complete baseline-RGB TIFF bytes carrying the suite's shared
    * gradient (r = (x*3+seed)%256, g = (y*5+seed*7)%256,
    * b = (x+y+seed*13)%256 — the [[PngPixels]] formulas, so the two
    * formats share one closed-form oracle), strip-organized with
    * RowsPerStrip = seed % 3 + 2 and written in either byte order.
    */
  def syntheticTiff(w: Int, h: Int, seed: Int, bigEndian: Boolean): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 64 && h <= 64, "synthetic dims out of range")
    val rps = seed % 3 + 2
    val nStrips = (h + rps - 1) / rps
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit =
      if (bigEndian) { out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
      else { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def w32(v: Int): Unit =
      if (bigEndian) { out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
        out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
      else { out.write(v & 0xff); out.write((v >>> 8) & 0xff)
        out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff) }
    // layout: header 8 | IFD 2+9*12+4 | bits 6 | [strip arrays] | pixels
    val ifdEnd = 8 + 2 + 9 * 12 + 4
    val bitsOff = ifdEnd
    val arraysExternal = nStrips > 1 // count-1 LONG arrays are inline per spec
    val soOff = bitsOff + 6
    val scOff = soOff + (if (arraysExternal) 4 * nStrips else 0)
    val dataOff = scOff + (if (arraysExternal) 4 * nStrips else 0)
    val stripOffs = Array.tabulate(nStrips) { s =>
      dataOff + (0 until s).map(t => math.min(rps, h - t * rps) * w * 3).sum
    }
    def stripLen(s: Int) = math.min(rps, h - s * rps) * w * 3

    out.write(if (bigEndian) 'M' else 'I'); out.write(if (bigEndian) 'M' else 'I')
    w16(42); w32(8)
    w16(9)
    def entry(tag: Int, tpe: Int, count: Int)(value: => Unit): Unit = {
      w16(tag); w16(tpe); w32(count)
      val before = out.size()
      value
      // inline values occupy the LEADING bytes of the field; pad to 4
      while (out.size() < before + 4) out.write(0)
    }
    entry(256, 3, 1)(w16(w))
    entry(257, 3, 1)(w16(h))
    entry(258, 3, 3)(w32(bitsOff))
    entry(259, 3, 1)(w16(1))
    entry(262, 3, 1)(w16(2))
    entry(273, 4, nStrips)(if (arraysExternal) w32(soOff) else w32(stripOffs(0)))
    entry(277, 3, 1)(w16(3))
    entry(278, 3, 1)(w16(rps))
    entry(279, 4, nStrips)(if (arraysExternal) w32(scOff) else w32(stripLen(0)))
    w32(0) // no next IFD
    w16(8); w16(8); w16(8)
    if (arraysExternal) {
      stripOffs.foreach(w32)
      (0 until nStrips).foreach(s => w32(stripLen(s)))
    }
    for (y <- 0 until h; x <- 0 until w) {
      out.write((x * 3 + seed) % 256)
      out.write((y * 5 + seed * 7) % 256)
      out.write((x + y + seed * 13) % 256)
    }
    val bytes = out.toByteArray
    assert(bytes.length == dataOff + w * h * 3, "layout accounting broke")
    bytes
  }
}
