package graft.functions

/** Pure-byte image header parsing — (format, width, height) from the
  * magic numbers and size fields of the public PNG / GIF / BMP / JPEG
  * file formats. No media libraries: the metadata half of the
  * multimodal decode path, plus BMP pixels, the BMP thumbnail and the
  * nearest-neighbor sampler the decoded-raster thumbnails share; each
  * runs per row inside Multimodal's decode step.
  */
object ImageHeaders {

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def be32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  private val PngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)

  /** Parse (format, width, height); None when the bytes are not a
    * recognized image header.
    */
  def parse(b: Array[Byte]): Option[(String, Int, Int)] =
    if (b.length >= 24 && PngSig.indices.forall(i => u8(b, i) == PngSig(i)))
      // PNG: 8-byte signature, IHDR length+type, then BE width/height
      Some(("png", be32(b, 16), be32(b, 20)))
    else if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F')
      // GIF87a/89a: LE logical-screen width/height at offsets 6/8
      Some(("gif", le16(b, 6), le16(b, 8)))
    else if (b.length >= 26 && b(0) == 'B' && b(1) == 'M')
      // BMP: BITMAPINFOHEADER LE width at 18, height at 22 (negative =
      // top-down rows)
      Some(("bmp", le32(b, 18), math.abs(le32(b, 22))))
    else if (b.length >= 4 && u8(b, 0) == 0xff && u8(b, 1) == 0xd8)
      parseJpeg(b)
    else None

  /** JPEG: walk the marker segments to the first start-of-frame (SOFn,
    * excluding DHT/JPG/DAC), whose payload carries BE height then width.
    */
  private def parseJpeg(b: Array[Byte]): Option[(String, Int, Int)] = {
    var i = 2
    while (i + 9 < b.length && u8(b, i) == 0xff) {
      val marker = u8(b, i + 1)
      if (marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc)
        return Some(("jpeg", be16(b, i + 7), be16(b, i + 5)))
      else if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd9)) i += 2
      else i += 2 + be16(b, i + 2)
    }
    None
  }

  /** Deterministic minimal-but-valid image headers for the synthetic
    * media table: the parser above must round-trip (format, w, h)
    * through real header bytes, not through a fake side channel.
    */
  def syntheticHeader(format: String, w: Int, h: Int): Array[Byte] = format match {
    case "png" =>
      val out = new java.io.ByteArrayOutputStream()
      PngSig.foreach(out.write)
      out.write(Array[Byte](0, 0, 0, 13)) // IHDR length
      out.write("IHDR".getBytes("US-ASCII"))
      out.write(Array[Byte](
        (w >> 24).toByte, (w >> 16).toByte, (w >> 8).toByte, w.toByte,
        (h >> 24).toByte, (h >> 16).toByte, (h >> 8).toByte, h.toByte,
        8, 2, 0, 0, 0)) // bit depth, color type, compression, filter, interlace
      out.toByteArray
    case "gif" =>
      ("GIF89a".getBytes("US-ASCII") ++ Array[Byte](
        (w & 0xff).toByte, (w >> 8).toByte,
        (h & 0xff).toByte, (h >> 8).toByte, 0, 0, 0))
    case "bmp" =>
      val out = Array.fill[Byte](26)(0)
      out(0) = 'B'; out(1) = 'M'
      out(14) = 40 // BITMAPINFOHEADER size
      out(18) = (w & 0xff).toByte; out(19) = (w >> 8).toByte
      out(22) = (h & 0xff).toByte; out(23) = (h >> 8).toByte
      out
    case other => throw new IllegalArgumentException(s"no synthetic header for $other")
  }

  /** REAL pixel decode for uncompressed 24-bit BMP — the format needs
    * no codec, just the spec: pixel-array offset at byte 10 (LE32),
    * LE dimensions in the DIB header, BGR byte order, rows bottom-up
    * and padded to 4-byte multiples. Returns (w, h, meanR, meanG,
    * meanB) over every pixel, or None for anything that is not a
    * well-formed uncompressed 24bpp BMP (PngPixels, GifPixels,
    * JpegPixels, WebpPixels and TiffPixels decode the other still-image
    * formats).
    */
  def decodeBmpPixels(b: Array[Byte]): Option[(Int, Int, Double, Double, Double)] = {
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
    val off = le32(b, 10)
    val w = le32(b, 18)
    val hRaw = le32(b, 22)
    val h = math.abs(hRaw)
    val bpp = le16(b, 28)
    val compression = le32(b, 30)
    // cap declared dims: a width near 2^30 overflows `w * 3` to a
    // NEGATIVE rowBytes, which makes the bounds check below trivially
    // pass and the pixel loop read past the array (Long math + cap
    // keeps every later Int product safe)
    if (bpp != 24 || compression != 0 || w <= 0 || h <= 0 ||
        w > (1 << 20) || h > (1 << 20)) return None
    val rowBytes = ((w.toLong * 3 + 3) / 4 * 4).toInt
    if (off < 54 || off.toLong + rowBytes.toLong * h > b.length) return None
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < h) {
      var x = 0
      val row = off + y * rowBytes
      while (x < w) {
        val i = row + x * 3
        sb += u8(b, i); sg += u8(b, i + 1); sr += u8(b, i + 2)
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    Some((w, h, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n))
  }

  /** Nearest-neighbor thumbnail of an uncompressed 24bpp BMP — the
    * resize operation of the multimodal brief, END TO END for the
    * codec-free format: sample the source pixel at
    * (floor(tx·w/tw), floor(ty·h/th)) for each thumbnail cell (rows in
    * STORAGE order; BMP bottom-up orientation doesn't matter to
    * downstream features). Returns (tw, th, meanR, meanG, meanB, fnv)
    * where fnv is FNV-1a over the sampled B,G,R bytes in row order —
    * a positional fingerprint means can't fake.
    */
  def thumbnailBmp(b: Array[Byte], tw: Int, th: Int): Option[(Int, Int, Double, Double, Double, Long)] = {
    if (tw <= 0 || th <= 0) return None
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
    val off = le32(b, 10)
    val w = le32(b, 18)
    val h = math.abs(le32(b, 22))
    if (le16(b, 28) != 24 || le32(b, 30) != 0 || w <= 0 || h <= 0 ||
        w > (1 << 20) || h > (1 << 20)) return None
    val rowBytes = ((w.toLong * 3 + 3) / 4 * 4).toInt
    if (off < 54 || off.toLong + rowBytes.toLong * h > b.length) return None
    var (sr, sg, sb) = (0L, 0L, 0L)
    var fnv = 0xcbf29ce484222325L
    def mix(v: Int): Unit = { fnv ^= (v & 0xff); fnv *= 0x100000001b3L }
    var ty = 0
    while (ty < th) {
      val sy = (ty.toLong * h / th).toInt
      var tx = 0
      while (tx < tw) {
        val sx = (tx.toLong * w / tw).toInt
        val i = off + sy * rowBytes + sx * 3
        val (pb, pg, pr) = (u8(b, i), u8(b, i + 1), u8(b, i + 2))
        sb += pb; sg += pg; sr += pr
        mix(pb); mix(pg); mix(pr)
        tx += 1
      }
      ty += 1
    }
    val n = tw.toLong * th
    Some((tw, th, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n, fnv))
  }

  /** Nearest-neighbor tw×th thumbnail of a decoded row-major raster of
    * `ch` interleaved channels — the sampler the PNG, TIFF, JPEG and
    * EXIF-oriented thumbnails share: sample at (⌊ty·h/th⌋, ⌊tx·w/tw⌋)
    * in (ty, tx) order, FNV-1a over each sample's r,g,b bytes; one or
    * two channels are gray (+ alpha) and replicate into r,g,b, three
    * or four are RGB (+ alpha). Returns (tw, th, meanR, meanG, meanB,
    * fnv); the caller guarantees tw, th > 0.
    */
  def thumbnailRaster(raster: Array[Byte], w: Int, h: Int, ch: Int,
                      tw: Int, th: Int): (Int, Int, Double, Double, Double, Long) = {
    var (sr, sg, sb) = (0L, 0L, 0L)
    var fnv = 0xcbf29ce484222325L
    def mix(v: Int): Unit = { fnv ^= (v & 0xff); fnv *= 0x100000001b3L }
    var ty = 0
    while (ty < th) {
      val sy = (ty.toLong * h / th).toInt
      var tx = 0
      while (tx < tw) {
        val sx = (tx.toLong * w / tw).toInt
        val i = (sy * w + sx) * ch
        val (r, g, bl) =
          if (ch <= 2) { val v = raster(i) & 0xff; (v, v, v) }
          else (raster(i) & 0xff, raster(i + 1) & 0xff, raster(i + 2) & 0xff)
        sr += r; sg += g; sb += bl
        mix(r); mix(g); mix(bl)
        tx += 1
      }
      ty += 1
    }
    val n = tw.toLong * th
    (tw, th, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n, fnv)
  }

  /** Complete uncompressed 24bpp BMP (54-byte header + padded BGR rows)
    * filled with one solid color — a REAL decodable image, not a header
    * fragment.
    */
  /** Textured 24bpp BMP for perceptual-hash fixtures: each 4×4 pixel
    * block's channels come from a deterministic integer mix of
    * (seed, block coords), base range [16, 215]; `brightness` adds a
    * constant to every channel and `tileDelta` adds to the single tile
    * `tileIdx` of a 3×2 tile grid. 215+28+10 < 254, so no value ever
    * clamps — which keeps a pure-brightness variant EXACTLY a DC shift
    * of its sibling (the invariance PerceptualHash relies on).
    */
  def patternBmp(w: Int, h: Int, seed: Long, brightness: Int = 0,
                 tileDelta: Int = 0, tileIdx: Int = 0): Array[Byte] = {
    require(w > 0 && h > 0 && brightness >= 0 && brightness <= 28 &&
      tileDelta >= 0 && tileDelta <= 10)
    val rowBytes = (w * 3 + 3) / 4 * 4
    val size = 54 + rowBytes * h
    val out = new Array[Byte](size)
    def w16(i: Int, v: Int): Unit = { out(i) = (v & 0xff).toByte; out(i + 1) = ((v >> 8) & 0xff).toByte }
    def w32(i: Int, v: Int): Unit = (0 until 4).foreach(j => out(i + j) = ((v >> (8 * j)) & 0xff).toByte)
    out(0) = 'B'; out(1) = 'M'
    w32(2, size); w32(10, 54)
    w32(14, 40)
    w32(18, w); w32(22, h)
    w16(26, 1); w16(28, 24)
    w32(30, 0)
    def mix(a: Long, b: Long, c: Long): Int = {
      var x = a * 0x9e3779b97f4a7c15L + b * 0xbf58476d1ce4e5b9L + c * 0x94d049bb133111ebL
      x ^= x >>> 31; x *= 0xff51afd7ed558ccdL; x ^= x >>> 33
      (x & 0x7fffffff).toInt
    }
    var y = 0
    while (y < h) {
      var x = 0
      val row = 54 + y * rowBytes
      while (x < w) {
        val tile = (y * 2 / h) * 3 + (x * 3 / w)
        val extra = brightness + (if (tile == tileIdx) tileDelta else 0)
        val i = row + x * 3
        out(i) = (mix(seed, x / 4, y / 4 * 3L) % 200 + 16 + extra).toByte
        out(i + 1) = (mix(seed, x / 4, y / 4 * 3L + 1) % 200 + 16 + extra).toByte
        out(i + 2) = (mix(seed, x / 4, y / 4 * 3L + 2) % 200 + 16 + extra).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  def syntheticBmp(w: Int, h: Int, r: Int, g: Int, bl: Int): Array[Byte] = {
    require(w > 0 && h > 0)
    val rowBytes = (w * 3 + 3) / 4 * 4
    val size = 54 + rowBytes * h
    val out = new Array[Byte](size)
    def w16(i: Int, v: Int): Unit = { out(i) = (v & 0xff).toByte; out(i + 1) = ((v >> 8) & 0xff).toByte }
    def w32(i: Int, v: Int): Unit = (0 until 4).foreach(j => out(i + j) = ((v >> (8 * j)) & 0xff).toByte)
    out(0) = 'B'; out(1) = 'M'
    w32(2, size); w32(10, 54)     // file size, pixel-array offset
    w32(14, 40)                   // BITMAPINFOHEADER
    w32(18, w); w32(22, h)
    w16(26, 1); w16(28, 24)       // planes, bpp
    w32(30, 0)                    // BI_RGB (uncompressed)
    var y = 0
    while (y < h) {
      var x = 0
      val row = 54 + y * rowBytes
      while (x < w) {
        val i = row + x * 3
        out(i) = bl.toByte; out(i + 1) = g.toByte; out(i + 2) = r.toByte
        x += 1
      }
      y += 1
    }
    out
  }
}
