package graft.functions

/** Pure-JVM decode of UNCOMPRESSED AVI video (RIFF container, '00db'
  * DIB frames): the one video format that needs no codec, so frame
  * sampling — the operation the multimodal pipeline exists for — runs
  * end to end on real container bytes. Walks the RIFF chunk list for
  * the `avih` main header (dimensions, declared frame count) and the
  * `movi` list's frame chunks; each frame is a BMP-style pixel array
  * (BGR, bottom-up rows padded to 4 bytes).
  *
  * Of compressed AVI ('00dc' chunks) only Motion JPEG decodes
  * ([[decodeMjpeg]]); any other codec, and every other video container,
  * is refused.
  */
object AviFrames {

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)
  private def tag(b: Array[Byte], i: Int, s: String): Boolean =
    b.length >= i + 4 && (0 until 4).forall(j => (b(i + j) & 0xff) == s.charAt(j))

  /** Decode with frame SAMPLING: visit every `frameStep`-th '00db'
    * frame (starting at frame 0) and average its pixels. Returns
    * (width, height, n_frames, n_sampled, meanR, meanG, meanB) or None
    * unless the bytes are a well-formed uncompressed AVI whose frame
    * payloads match the declared dimensions.
    */
  def decode(b: Array[Byte], frameStep: Int = 1): Option[(Int, Int, Int, Int, Double, Double, Double)] = {
    if (frameStep < 1 || b.length < 12 || !tag(b, 0, "RIFF") || !tag(b, 8, "AVI ")) return None
    var w, h = 0
    var nFrames, nSampled = 0
    var sr, sg, sb = 0L
    // ALL offset/size arithmetic in Long: declared chunk sizes are
    // attacker-controlled, and Int `off + 8 + size` wraps negative for
    // sizes near Int.MaxValue, silently defeating the bounds checks
    // (an AIOOBE here kills an executor task on one corrupt blob)
    var off = 12L
    while (off + 8 <= b.length) {
      val size = le32(b, (off + 4).toInt).toLong & 0xffffffffL
      if (off + 8 + size > b.length) return None
      if (tag(b, off.toInt, "LIST") && size >= 4) {
        if (tag(b, (off + 8).toInt, "hdrl")) {
          // first subchunk must be avih: dwWidth/dwHeight at offsets
          // 32/36 of its payload — every read bounded by the ACTUAL
          // enclosing LIST size, not just the avih's own declared size
          val a = off + 12
          if (a + 8 + 40 > off + 8 + size || !tag(b, a.toInt, "avih")) return None
          val avihSize = le32(b, (a + 4).toInt).toLong & 0xffffffffL
          if (avihSize < 40 || a + 8 + avihSize > off + 8 + size) return None
          w = le32(b, (a + 8 + 32).toInt)
          h = le32(b, (a + 8 + 36).toInt)
          // cap dims so rowBytes/frameBytes stay far from Int overflow
          if (w <= 0 || h <= 0 || w > (1 << 20) || h > (1 << 20)) return None
        } else if (tag(b, (off + 8).toInt, "movi")) {
          if (w == 0) return None // hdrl must precede movi
          val rowBytes = (w.toLong * 3 + 3) / 4 * 4
          val frameBytes = rowBytes * h
          var in = off + 12
          val end = off + 8 + size
          while (in + 8 <= end) {
            val fsz = le32(b, (in + 4).toInt).toLong & 0xffffffffL
            if (in + 8 + fsz > end) return None
            if (tag(b, in.toInt, "00db")) {
              if (fsz != frameBytes) return None
              if (nFrames % frameStep == 0) {
                var y = 0
                while (y < h) {
                  var x = 0
                  val row = in + 8 + y * rowBytes
                  while (x < w) {
                    val i = (row + x * 3).toInt
                    sb += u8(b, i); sg += u8(b, i + 1); sr += u8(b, i + 2)
                    x += 1
                  }
                  y += 1
                }
                nSampled += 1
              }
              nFrames += 1
            }
            in += 8 + fsz + (fsz & 1) // RIFF chunks pad to even sizes
          }
        }
      }
      off += 8 + size + (size & 1)
    }
    if (w == 0 || nSampled == 0) None
    else {
      val n = nSampled.toLong * w * h
      Some((w, h, nFrames, nSampled,
            sr.toDouble / n, sg.toDouble / n, sb.toDouble / n))
    }
  }

  /** COMPRESSED video decode for the one codec that composes from a
    * decoder this library already has: Motion JPEG ('00dc' chunks,
    * each a complete baseline JPEG), the classic AVI capture codec.
    * Walks hdrl for avih dims AND the 'strl'→'strh'/'strf' stream
    * headers; the '00dc' payloads decode as JPEG ONLY when the stream
    * declares the MJPG fourcc (strh.fccHandler or strf.biCompression)
    * — any other codec refuses (None), never misdecodes. Visits every
    * `frameStep`-th frame; per sampled frame the hand-rolled decoder
    * ([[JpegPixels.decode]]) is cross-checked against the JDK's own
    * JPEG decoder within 1/255 per channel (IDCT rounding), and the
    * conjunction is returned as the ok bit.
    *
    * Returns (width, height, n_frames, n_sampled, meanR, meanG,
    * meanB, jdk_ok) — means weighted across sampled frames' pixels.
    */
  def decodeMjpeg(b: Array[Byte], frameStep: Int = 1):
      Option[(Int, Int, Int, Int, Double, Double, Double, Boolean)] = {
    if (frameStep < 1 || b.length < 12 || !tag(b, 0, "RIFF") || !tag(b, 8, "AVI ")) return None
    var w, h = 0
    var mjpg = false
    var nFrames, nSampled = 0
    var sr, sg, sb = 0.0
    var pixels = 0L
    var jdkOk = true
    // Long offsets: declared sizes are untrusted (same audit as decode)
    var off = 12L
    while (off + 8 <= b.length) {
      val size = le32(b, (off + 4).toInt).toLong & 0xffffffffL
      if (off + 8 + size > b.length) return None
      if (tag(b, off.toInt, "LIST") && size >= 4) {
        if (tag(b, (off + 8).toInt, "hdrl")) {
          val a = off + 12
          if (a + 8 + 40 > off + 8 + size || !tag(b, a.toInt, "avih")) return None
          val avihSize = le32(b, (a + 4).toInt).toLong & 0xffffffffL
          if (avihSize < 40 || a + 8 + avihSize > off + 8 + size) return None
          w = le32(b, (a + 8 + 32).toInt)
          h = le32(b, (a + 8 + 36).toInt)
          if (w <= 0 || h <= 0 || w > (1 << 20) || h > (1 << 20)) return None
          // walk the hdrl's sub-LISTs for 'strl' stream definitions
          var s = a + 8 + avihSize + (avihSize & 1)
          val hdrlEnd = off + 8 + size
          while (s + 8 <= hdrlEnd) {
            val ssize = le32(b, (s + 4).toInt).toLong & 0xffffffffL
            if (s + 8 + ssize > hdrlEnd) return None
            if (tag(b, s.toInt, "LIST") && ssize >= 4 && tag(b, (s + 8).toInt, "strl")) {
              // strh: fccType at +0, fccHandler at +4 of its payload
              val sh = s + 12
              if (sh + 8 + 8 <= s + 8 + ssize && tag(b, sh.toInt, "strh") &&
                  tag(b, (sh + 8).toInt, "vids")) {
                if (tag(b, (sh + 12).toInt, "MJPG") || tag(b, (sh + 12).toInt, "mjpg"))
                  mjpg = true
                else {
                  // strf BITMAPINFOHEADER.biCompression may declare it too
                  val shSize = le32(b, (sh + 4).toInt).toLong & 0xffffffffL
                  val sf = sh + 8 + shSize + (shSize & 1)
                  if (sf + 8 + 20 <= s + 8 + ssize && tag(b, sf.toInt, "strf") &&
                      tag(b, (sf + 8 + 16).toInt, "MJPG"))
                    mjpg = true
                }
              }
            }
            s += 8 + ssize + (ssize & 1)
          }
        } else if (tag(b, (off + 8).toInt, "movi")) {
          if (w == 0) return None // hdrl must precede movi
          var in = off + 12
          val end = off + 8 + size
          while (in + 8 <= end) {
            val csize = le32(b, (in + 4).toInt).toLong & 0xffffffffL
            if (in + 8 + csize > end) return None
            if (tag(b, in.toInt, "00dc")) {
              if (!mjpg) return None // compressed stream with a codec we don't have
              if (nFrames % frameStep == 0) {
                val frame = java.util.Arrays.copyOfRange(b, (in + 8).toInt, (in + 8 + csize).toInt)
                JpegPixels.decode(frame) match {
                  case Some((fw, fh, mr, mg, mb)) =>
                    if (fw != w || fh != h) return None
                    val n = fw.toLong * fh
                    sr += mr * n; sg += mg * n; sb += mb * n
                    pixels += n
                    nSampled += 1
                    jdkOk = jdkOk && (JpegPixels.jdkMeans(frame) match {
                      case Some((jw, jh, jr, jg, jb)) =>
                        jw == fw && jh == fh && math.abs(mr - jr) <= 1.0 &&
                          math.abs(mg - jg) <= 1.0 && math.abs(mb - jb) <= 1.0
                      case None => false
                    })
                  case None => return None // a frame that isn't a valid JPEG
                }
              }
              nFrames += 1
            } else if (tag(b, in.toInt, "00db")) {
              return None // mixed uncompressed frames: not an MJPEG stream
            }
            in += 8 + csize + (csize & 1)
          }
        }
      }
      off += 8 + size + (size & 1)
    }
    if (w == 0 || nSampled == 0) None
    else Some((w, h, nFrames, nSampled,
               sr / pixels, sg / pixels, sb / pixels, jdkOk))
  }

  /** Complete MJPEG AVI: avih + a 'vids'/'MJPG' strl stream header +
    * `nFrames` '00dc' chunks, frame f a real baseline JPEG
    * ([[JpegPixels.syntheticJpeg]] at seed+f) — every frame a distinct
    * DCT-coded image, so sampling is distinguishable from
    * decode-everything and per-frame decode parity is meaningful.
    */
  def syntheticMjpeg(w: Int, h: Int, nFrames: Int, seed: Int): Array[Byte] = {
    require(w > 0 && h > 0 && nFrames > 0)
    val frames = (0 until nFrames).map(f =>
      JpegPixels.syntheticJpeg(w, h, seed + f, 0.6f + ((seed + f) % 5) * 0.08f))
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit = (0 until 4).foreach(i => out.write((v >> (8 * i)) & 0xff))
    def t(s: String): Unit = s.foreach(c => out.write(c.toInt))
    val avihSize = 56
    val strhSize = 56
    val strfSize = 40 // BITMAPINFOHEADER
    val strlSize = 4 + (8 + strhSize) + (8 + strfSize)
    val hdrlSize = 4 + (8 + avihSize) + (8 + strlSize)
    val moviSize = 4 + frames.map(f => 8 + f.length + (f.length & 1)).sum
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
    t("RIFF"); w32(riffSize); t("AVI ")
    t("LIST"); w32(hdrlSize); t("hdrl")
    t("avih"); w32(avihSize)
    w32(33333); w32(0); w32(0); w32(0)
    w32(nFrames); w32(0); w32(1); w32(0)
    w32(w); w32(h)
    (0 until 4).foreach(_ => w32(0))
    t("LIST"); w32(strlSize); t("strl")
    t("strh"); w32(strhSize)
    t("vids"); t("MJPG")
    (0 until 12).foreach(_ => w32(0)) // flags..quality/sampleSize/rcFrame
    t("strf"); w32(strfSize)
    w32(strfSize); w32(w); w32(h)     // biSize, biWidth, biHeight
    out.write(1); out.write(0); out.write(24); out.write(0) // planes=1, bpp=24
    t("MJPG")                          // biCompression
    (0 until 5).foreach(_ => w32(0))   // size/res/clr fields
    t("LIST"); w32(moviSize); t("movi")
    frames.foreach { f =>
      t("00dc"); w32(f.length)
      out.write(f, 0, f.length)
      if ((f.length & 1) == 1) out.write(0)
    }
    out.toByteArray
  }

  /** Complete uncompressed AVI: avih header + `nFrames` solid-color
    * '00db' DIB frames, frame i colored (r+i, g+i, b+i) mod 256 so a
    * sampling decode is distinguishable from a decode-everything.
    */
  def synthetic(w: Int, h: Int, nFrames: Int, r: Int, g: Int, bl: Int): Array[Byte] = {
    require(w > 0 && h > 0 && nFrames > 0)
    val rowBytes = (w * 3 + 3) / 4 * 4
    val frameBytes = rowBytes * h
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit = (0 until 4).foreach(i => out.write((v >> (8 * i)) & 0xff))
    def t(s: String): Unit = s.foreach(c => out.write(c.toInt))
    val avihSize = 56
    val hdrlSize = 4 + 8 + avihSize
    val moviSize = 4 + nFrames * (8 + frameBytes)
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
    t("RIFF"); w32(riffSize); t("AVI ")
    t("LIST"); w32(hdrlSize); t("hdrl")
    t("avih"); w32(avihSize)
    w32(33333); w32(0); w32(0); w32(0)   // usec/frame, maxbytes, padding, flags
    w32(nFrames); w32(0); w32(1); w32(0) // total frames, initial, streams, bufsize
    w32(w); w32(h)
    (0 until 4).foreach(_ => w32(0))     // reserved
    t("LIST"); w32(moviSize); t("movi")
    (0 until nFrames).foreach { f =>
      t("00db"); w32(frameBytes)
      val row = new Array[Byte](rowBytes)
      var x = 0
      while (x < w) {
        row(x * 3) = ((bl + f) % 256).toByte
        row(x * 3 + 1) = ((g + f) % 256).toByte
        row(x * 3 + 2) = ((r + f) % 256).toByte
        x += 1
      }
      (0 until h).foreach(_ => out.write(row, 0, rowBytes))
    }
    out.toByteArray
  }
}
