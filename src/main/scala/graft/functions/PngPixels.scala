package graft.functions

import java.util.zip.{CRC32, Deflater, Inflater}

/** Dependency-free PNG PIXEL decode — the compressed-format path the
  * multimodal stub previously covered. PNG's compression is zlib
  * (java.util.zip.Inflater, on every JVM) plus five per-row byte
  * filters from the public spec (RFC 2083 §6), so a real decode needs
  * no media library: walk the chunks, inflate the concatenated IDAT
  * stream, reverse the row filters, and average the channels.
  *
  * Scope: 8-bit depth, non-interlaced, color types 0 (gray), 2 (RGB),
  * 4 (gray+alpha), 6 (RGBA) — which covers ordinary screenshots and
  * exports (the reference repo's own dashboard screenshots decode
  * through this path in PngPixelsSpec). Palette (3) and interlaced
  * images return None rather than a wrong answer.
  */
object PngPixels {

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)

  private val Sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)

  /** Channels per pixel for the supported color types; -1 = unsupported. */
  private def channels(colorType: Int): Int = colorType match {
    case 0 => 1 // grayscale
    case 2 => 3 // truecolor
    case 4 => 2 // gray + alpha
    case 6 => 4 // truecolor + alpha
    case _ => -1
  }

  /** Decode to (width, height, meanR, meanG, meanB) over every pixel
    * (gray replicates into all three channels; alpha is metadata, not
    * color, and is excluded from the means). None for anything outside
    * the supported profile or structurally broken — never a partial
    * answer.
    */
  def decode(b: Array[Byte]): Option[(Int, Int, Double, Double, Double)] =
    decodeRaster(b).map { case (w, h, ch, raster) =>
      var (sr, sg, sb) = (0L, 0L, 0L)
      val n = w.toLong * h
      val bpp = ch
      var p = 0
      val total = (n * bpp).toInt
      while (p < total) {
        if (ch <= 2) { // gray (+alpha): one color sample per pixel
          val v = raster(p) & 0xff
          sr += v; sg += v; sb += v
        } else {
          sr += raster(p) & 0xff
          sg += raster(p + 1) & 0xff
          sb += raster(p + 2) & 0xff
        }
        p += bpp
      }
      (w, h, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
    }

  /** Decode to the unfiltered raster: (w, h, channels, bytes) with rows
    * concatenated top-down, `channels` samples per pixel. The heavy
    * lifting shared by [[decode]] and the spec's per-pixel checks.
    */
  def decodeRaster(b: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
    if (b.length < 45 || Sig.indices.exists(i => u8(b, i) != Sig(i))) return None
    if (be32(b, 8) != 13 || !chunkTypeIs(b, 12, "IHDR")) return None
    val w = be32(b, 16)
    val h = be32(b, 20)
    val bitDepth = u8(b, 24)
    val colorType = u8(b, 25)
    val compression = u8(b, 26)
    val filterMethod = u8(b, 27)
    val interlace = u8(b, 28)
    val ch = channels(colorType)
    // dimension cap: rowBytes/raster products below must stay in Int.
    // compression/filter method bytes must be 0 (the only defined
    // values) — a nonzero declaration means the five-filter unfilter
    // below would apply the wrong semantics, so reject, don't guess.
    if (w <= 0 || h <= 0 || w > (1 << 14) || h > (1 << 14) ||
        bitDepth != 8 || ch < 0 || interlace != 0 ||
        compression != 0 || filterMethod != 0) return None

    // concatenate every IDAT payload (the zlib stream may be split
    // across chunks at arbitrary byte boundaries)
    val idat = new java.io.ByteArrayOutputStream()
    var i = 8
    var sawEnd = false
    while (!sawEnd && i + 8 <= b.length) {
      val len = be32(b, i)
      if (len < 0 || i + 12L + len > b.length) return None
      if (chunkTypeIs(b, i + 4, "IDAT")) idat.write(b, i + 8, len)
      else if (chunkTypeIs(b, i + 4, "IEND")) sawEnd = true
      i += 12 + len
    }
    val compressed = idat.toByteArray
    if (compressed.isEmpty) return None

    val rowBytes = w * ch
    val raw = new Array[Byte](h * (1 + rowBytes)) // filter byte + row, per row
    val inf = new Inflater()
    inf.setInput(compressed)
    try {
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val got = inf.inflate(raw, off, raw.length - off)
        // zero progress without finishing: truncated stream
        // (needsInput), preset-dictionary stream (needsDictionary — we
        // never supply one), or any other stall — all structurally
        // unsupported, and looping again would spin forever
        if (got == 0) return None
        off += got
      }
      if (off < raw.length) return None
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.end()

    // reverse the per-row filters in place into the output raster.
    // bpp for filter purposes = bytes per complete pixel (spec: the
    // "corresponding byte of the prior pixel").
    val out = new Array[Byte](h * rowBytes)
    val bpp = ch
    var y = 0
    while (y < h) {
      val filter = raw(y * (1 + rowBytes)) & 0xff
      val src = y * (1 + rowBytes) + 1
      val dst = y * rowBytes
      val prior = dst - rowBytes
      var x = 0
      filter match {
        case 0 => // None
          System.arraycopy(raw, src, out, dst, rowBytes)
        case 1 => // Sub: left neighbor
          while (x < rowBytes) {
            val left = if (x >= bpp) out(dst + x - bpp) & 0xff else 0
            out(dst + x) = (((raw(src + x) & 0xff) + left) & 0xff).toByte
            x += 1
          }
        case 2 => // Up: same byte, prior row
          while (x < rowBytes) {
            val up = if (y > 0) out(prior + x) & 0xff else 0
            out(dst + x) = (((raw(src + x) & 0xff) + up) & 0xff).toByte
            x += 1
          }
        case 3 => // Average: floor((left + up) / 2)
          while (x < rowBytes) {
            val left = if (x >= bpp) out(dst + x - bpp) & 0xff else 0
            val up = if (y > 0) out(prior + x) & 0xff else 0
            out(dst + x) = (((raw(src + x) & 0xff) + ((left + up) >> 1)) & 0xff).toByte
            x += 1
          }
        case 4 => // Paeth predictor
          while (x < rowBytes) {
            val left = if (x >= bpp) out(dst + x - bpp) & 0xff else 0
            val up = if (y > 0) out(prior + x) & 0xff else 0
            val ul = if (y > 0 && x >= bpp) out(prior + x - bpp) & 0xff else 0
            out(dst + x) = (((raw(src + x) & 0xff) + paeth(left, up, ul)) & 0xff).toByte
            x += 1
          }
        case _ => return None
      }
      y += 1
    }
    Some((w, h, ch, out))
  }

  /** Nearest-neighbor thumbnail over the decoded raster — the resize
    * stage for the COMPRESSED image path, through the shared sampler
    * [[ImageHeaders.thumbnailRaster]] (gray replicates into all three
    * channels).
    */
  def thumbnail(b: Array[Byte], tw: Int, th: Int): Option[(Int, Int, Double, Double, Double, Long)] = {
    if (tw <= 0 || th <= 0) return None
    decodeRaster(b).map { case (w, h, ch, raster) =>
      ImageHeaders.thumbnailRaster(raster, w, h, ch, tw, th)
    }
  }

  /** The synthetic gradient's expected thumbnail (means + fnv) computed
    * from the pixel FORMULA alone — no codec in the loop, so comparing
    * against [[thumbnail]] over [[syntheticPng]] cross-checks the whole
    * inflate→unfilter→sample chain on every image.
    */
  def syntheticThumb(w: Int, h: Int, seed: Int, tw: Int, th: Int): (Double, Double, Double, Long) = {
    var (sr, sg, sb) = (0L, 0L, 0L)
    var fnv = 0xcbf29ce484222325L
    def mix(v: Int): Unit = { fnv ^= (v & 0xff); fnv *= 0x100000001b3L }
    var ty = 0
    while (ty < th) {
      val sy = (ty.toLong * h / th).toInt
      var tx = 0
      while (tx < tw) {
        val sx = (tx.toLong * w / tw).toInt
        val r = (sx * 3 + seed) % 256
        val g = (sy * 5 + seed * 7) % 256
        val bl = (sx + sy + seed * 13) % 256
        sr += r; sg += g; sb += bl
        mix(r); mix(g); mix(bl)
        tx += 1
      }
      ty += 1
    }
    val n = tw.toLong * th
    (sr.toDouble / n, sg.toDouble / n, sb.toDouble / n, fnv)
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a)
    val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def chunkTypeIs(b: Array[Byte], i: Int, t: String): Boolean =
    b(i) == t.charAt(0) && b(i + 1) == t.charAt(1) &&
      b(i + 2) == t.charAt(2) && b(i + 3) == t.charAt(3)

  /** A COMPLETE compressed RGB PNG (real zlib IDAT, correct CRCs) whose
    * pixel (x, y) is ((x*3 + seed) % 256, (y*5 + seed*7) % 256,
    * (x + y + seed*13) % 256) — a gradient, so the decode can't pass by
    * luck on a constant image. Rows cycle through filter types
    * 0,1,2,3,4 so every unfilter branch is exercised by construction.
    */
  def syntheticPng(w: Int, h: Int, seed: Int): Array[Byte] = {
    require(w > 0 && h > 0)
    val ch = 3
    val rowBytes = w * ch
    val raster = Array.tabulate(h, rowBytes) { (y, i) =>
      val x = i / ch
      (i % ch match {
        case 0 => (x * 3 + seed) % 256
        case 1 => (y * 5 + seed * 7) % 256
        case _ => (x + y + seed * 13) % 256
      }).toByte
    }
    // forward-filter each row with its cycling filter type
    val raw = new java.io.ByteArrayOutputStream()
    for (y <- 0 until h) {
      val f = y % 5
      raw.write(f)
      val row = raster(y)
      val prior = if (y > 0) raster(y - 1) else new Array[Byte](rowBytes)
      for (x <- 0 until rowBytes) {
        val cur = row(x) & 0xff
        val left = if (x >= ch) row(x - ch) & 0xff else 0
        val up = prior(x) & 0xff
        val ul = if (x >= ch) prior(x - ch) & 0xff else 0
        val filtered = f match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - ((left + up) >> 1)
          case 4 => cur - paeth(left, up, ul)
        }
        raw.write(filtered & 0xff)
      }
    }
    val deflater = new Deflater()
    deflater.setInput(raw.toByteArray)
    deflater.finish()
    val comp = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!deflater.finished()) comp.write(buf, 0, deflater.deflate(buf))
    deflater.end()

    val out = new java.io.ByteArrayOutputStream()
    Sig.foreach(out.write)
    writeChunk(out, "IHDR", Array[Byte](
      (w >> 24).toByte, (w >> 16).toByte, (w >> 8).toByte, w.toByte,
      (h >> 24).toByte, (h >> 16).toByte, (h >> 8).toByte, h.toByte,
      8, 2, 0, 0, 0))
    writeChunk(out, "IDAT", comp.toByteArray)
    writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** The gradient's expected channel means, computed independently of
    * the codec path (closed-form per-axis sums) — what the registry
    * entry's cross-check compares the decoded means against.
    */
  def syntheticMeans(w: Int, h: Int, seed: Int): (Double, Double, Double) = {
    var (sr, sg, sb) = (0L, 0L, 0L)
    for (y <- 0 until h; x <- 0 until w) {
      sr += (x * 3 + seed) % 256
      sg += (y * 5 + seed * 7) % 256
      sb += (x + y + seed * 13) % 256
    }
    val n = w.toLong * h
    (sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
  }

  private def writeChunk(out: java.io.ByteArrayOutputStream, typ: String,
                         data: Array[Byte]): Unit = {
    val len = data.length
    out.write(Array[Byte]((len >> 24).toByte, (len >> 16).toByte, (len >> 8).toByte, len.toByte))
    val typB = typ.getBytes("US-ASCII")
    out.write(typB)
    out.write(data)
    val crc = new CRC32()
    crc.update(typB)
    crc.update(data)
    val c = crc.getValue
    out.write(Array[Byte]((c >> 24).toByte, (c >> 16).toByte, (c >> 8).toByte, c.toByte))
  }
}
