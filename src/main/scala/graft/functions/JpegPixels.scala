package graft.functions

/** Dependency-free baseline JPEG PIXEL decode — closes the last
  * mainstream still-image stub beside PngPixels/GifPixels/BmpPixels.
  * Everything here is from the public spec (ITU-T T.81 / ISO 10918-1):
  * marker segments, canonical Huffman entropy decode with byte
  * unstuffing and restart markers, dequantize + dezigzag, separable
  * floating IDCT, and JFIF YCbCr→RGB.
  *
  * Scope: baseline + extended sequential DCT (SOF0/SOF1) AND
  * progressive DCT (SOF2, spectral selection + successive
  * approximation — the full T.81 G.2 scan algebra), 8-bit precision,
  * 1-component grayscale or 3-component YCbCr with any sampling
  * factors up to 4 (covers 4:4:4, 4:2:2, 4:2:0 — everything the
  * JDK's own writer and libjpeg-family encoders emit, sequential or
  * progressive). Arithmetic coding, 12-bit, hierarchical, and CMYK
  * return None rather than a wrong answer — same contract as
  * PngPixels.
  *
  * The reference parses media headers only (multimodal stills are an
  * engine-side extension); like the other decoders this runs per row
  * inside Multimodal's decode step — binary decode is per-row
  * imperative work, not an Expression job.
  */
object JpegPixels {

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def u16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)

  /** Zigzag order: index in scan order → index in 8x8 raster order. */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Canonical Huffman table in the T.81 F.2.2.3 decode form. */
  private final class Huff(counts: Array[Int], symbols: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += counts(l - 1)
        k += counts(l - 1)
        maxCode(l) = code - 1
        if (counts(l - 1) == 0) maxCode(l) = -1
        code <<= 1
        l += 1
      }
    }
    def symbol(idx: Int): Int = symbols(idx)
  }

  /** Entropy-coded-segment bit reader: FF00 unstuffing, stops at any
    * real marker (leaving it for the caller), restart-marker aware.
    */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var bitBuf = 0
    private var bitCnt = 0
    var hitMarker = false

    def align(): Unit = { bitBuf = 0; bitCnt = 0 }

    /** Consume an expected RSTn marker at a restart boundary. */
    def readRestart(): Boolean = {
      align()
      if (pos + 1 < b.length && u8(b, pos) == 0xff) {
        val m = u8(b, pos + 1)
        if (m >= 0xd0 && m <= 0xd7) { pos += 2; hitMarker = false; return true }
      }
      false
    }

    private def nextByte(): Int = {
      if (hitMarker || pos >= b.length) { hitMarker = true; return 0 }
      val v = u8(b, pos)
      if (v == 0xff) {
        if (pos + 1 >= b.length) { hitMarker = true; return 0 }
        val n = u8(b, pos + 1)
        if (n == 0x00) { pos += 2; 0xff }
        else { hitMarker = true; 0 } // real marker: stop producing bits
      } else { pos += 1; v }
    }

    def bit(): Int = {
      if (bitCnt == 0) { bitBuf = nextByte(); bitCnt = 8 }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }

    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }

    def decode(h: Huff): Int = {
      var code = bit()
      var l = 1
      while (l <= 16 && (h.maxCode(l) == -1 || code > h.maxCode(l))) {
        code = (code << 1) | bit()
        l += 1
      }
      if (l > 16) -1
      else h.symbol(h.valPtr(l) + code - h.minCode(l))
    }
  }

  /** T.81 F.2.2.1 EXTEND: map a magnitude-category code to its value. */
  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  /** Separable double-precision IDCT on one dequantized 8x8 block
    * (raster order in, spatial samples out, level-shifted and clamped).
    */
  private def idct(block: Array[Double], out: Array[Int]): Unit = {
    val tmp = new Array[Double](64)
    val c = new Array[Double](8)
    c(0) = 1.0 / math.sqrt(2.0)
    var i = 1
    while (i < 8) { c(i) = 1.0; i += 1 }
    // rows
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          s += c(u) * block(y * 8 + u) * math.cos((2 * x + 1) * u * math.Pi / 16)
          u += 1
        }
        tmp(y * 8 + x) = s / 2
        x += 1
      }
      y += 1
    }
    // columns
    var x = 0
    while (x < 8) {
      var yy = 0
      while (yy < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          s += c(v) * tmp(v * 8 + x) * math.cos((2 * yy + 1) * v * math.Pi / 16)
          v += 1
        }
        val px = math.round(s / 2 + 128).toInt
        out(yy * 8 + x) = if (px < 0) 0 else if (px > 255) 255 else px
        yy += 1
      }
      x += 1
    }
  }

  private final case class Component(id: Int, h: Int, v: Int, tq: Int,
                                     var dcTab: Int = 0, var acTab: Int = 0)

  /** Parse one DQT segment body into `quant`; false on malformed. */
  private def parseDqt(b: Array[Byte], seg: Int, segEnd: Int,
                       quant: Array[Array[Int]]): Boolean = {
    var p = seg
    while (p < segEnd) {
      val pq = u8(b, p) >> 4
      val tq = u8(b, p) & 0x0f
      if (tq > 3 || pq > 1) return false
      // the declared length must actually hold the table
      if (p + 1 + (if (pq == 0) 64 else 128) > segEnd) return false
      val tab = new Array[Int](64)
      var k = 0
      p += 1
      while (k < 64) {
        tab(Zigzag(k)) =
          if (pq == 0) u8(b, p + k) else u16(b, p + 2 * k)
        k += 1
      }
      p += (if (pq == 0) 64 else 128)
      quant(tq) = tab
    }
    true
  }

  /** Parse one DHT segment body into the table slots; false on malformed. */
  private def parseDht(b: Array[Byte], seg: Int, segEnd: Int,
                       dcHuff: Array[Huff], acHuff: Array[Huff]): Boolean = {
    var p = seg
    while (p < segEnd) {
      val tc = u8(b, p) >> 4
      val th = u8(b, p) & 0x0f
      if (tc > 1 || th > 3 || p + 17 > segEnd) return false
      val counts = new Array[Int](16)
      var total = 0
      var k = 0
      while (k < 16) { counts(k) = u8(b, p + 1 + k); total += counts(k); k += 1 }
      if (p + 17 + total > segEnd) return false
      val syms = new Array[Int](total)
      k = 0
      while (k < total) { syms(k) = u8(b, p + 17 + k); k += 1 }
      val huff = new Huff(counts, syms)
      if (tc == 0) dcHuff(th) = huff else acHuff(th) = huff
      p += 17 + total
    }
    true
  }

  /** Position of the next real marker's 0xFF at or after `from`,
    * skipping entropy bytes, stuffed FF00 pairs, fill FFs, and RSTn;
    * -1 if none.
    */
  private def nextMarker(b: Array[Byte], from: Int): Int = {
    var p = from
    while (p + 1 < b.length) {
      if (u8(b, p) == 0xff) {
        val m = u8(b, p + 1)
        if (m == 0x00) p += 2
        else if (m >= 0xd0 && m <= 0xd7) p += 2
        else if (m == 0xff) p += 1
        else return p
      } else p += 1
    }
    -1
  }

  /** Full pixel decode: Some((width, height, channels, raster)) with
    * channels 1 (gray) or 3 (RGB, row-major interleaved); None for
    * anything outside the supported profile or structurally broken.
    */
  def decodeRaster(b: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
    if (b.length < 4 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return None
    val quant = new Array[Array[Int]](4)
    val dcHuff = new Array[Huff](4)
    val acHuff = new Array[Huff](4)
    var comps: Array[Component] = null
    var width = 0
    var height = 0
    var restartInterval = 0
    var progressive = false
    var pos = 2
    var scanStart = -1

    while (scanStart < 0) {
      if (pos + 3 >= b.length) return None
      if (u8(b, pos) != 0xff) return None
      val marker = u8(b, pos + 1)
      if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) { pos += 2 }
      else if (marker == 0xd9) return None // EOI before any scan
      else {
        val len = u16(b, pos + 2)
        val seg = pos + 4
        if (seg + len - 2 > b.length) return None
        marker match {
          case 0xdb => // DQT
            if (!parseDqt(b, seg, seg + len - 2, quant)) return None
          case 0xc4 => // DHT
            if (!parseDht(b, seg, seg + len - 2, dcHuff, acHuff)) return None
          case 0xc0 | 0xc1 | 0xc2 => // SOF0/SOF1 sequential, SOF2 progressive
            if (len < 8 || u8(b, seg) != 8) return None // 8-bit precision only
            progressive = marker == 0xc2
            height = u16(b, seg + 1)
            width = u16(b, seg + 3)
            val n = u8(b, seg + 5)
            if ((n != 1 && n != 3) || len - 2 < 6 + 3 * n) return None
            comps = Array.tabulate(n) { i =>
              val o = seg + 6 + 3 * i
              Component(u8(b, o), u8(b, o + 1) >> 4, u8(b, o + 1) & 0x0f, u8(b, o + 2))
            }
            if (comps.exists(c => c.h < 1 || c.h > 4 || c.v < 1 || c.v > 4))
              return None
          case 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
            return None // lossless / arithmetic / differential families
          case 0xdd => restartInterval = u16(b, seg)
          case 0xda => // SOS
            if (comps == null || len < 3) return None
            if (progressive) {
              // progressive frames carry MANY scans, each with its own
              // component subset and spectral/approximation params —
              // hand the whole scan sequence to the progressive decoder
              scanStart = pos
            } else {
              val n = u8(b, seg)
              if (n != comps.length || len - 2 < 1 + 2 * n) return None
              var i2 = 0
              while (i2 < n) {
                val id = u8(b, seg + 1 + 2 * i2)
                val tabs = u8(b, seg + 2 + 2 * i2)
                comps.find(_.id == id) match {
                  case Some(c) => c.dcTab = tabs >> 4; c.acTab = tabs & 0x0f
                  case None => return None
                }
                i2 += 1
              }
              scanStart = seg + len - 2
            }
          case _ => () // APPn / COM / others: skip
        }
        if (scanStart < 0) pos += 2 + len
      }
    }

    // 64-bit product: SOF dims are u16 each, so width*height can exceed
    // Int.MaxValue (65535² ≈ 2^32) and a 32-bit compare would wrap negative
    if (width == 0 || height == 0 || width.toLong * height > 64_000_000L) return None
    // T.81 A.2: a single-component scan is non-interleaved — one 8×8 data
    // unit per MCU in raster order, declared sampling factors ignored.
    // Force the effective 1×1 grid so gray JPEGs with h/v > 1 decode in
    // the correct block order instead of a scrambled interleaved layout.
    if (comps.length == 1 && (comps(0).h != 1 || comps(0).v != 1))
      comps = Array(comps(0).copy(h = 1, v = 1))
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    // upsample ratios must be integral; a legal 3:2 combo would truncate
    // to 1 and silently mis-scale the chroma plane — refuse instead
    if (comps.exists(c => hMax % c.h != 0 || vMax % c.v != 0)) return None
    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)

    if (progressive) {
      // progressive needs the whole coefficient image in memory (later
      // scans refine earlier ones), ~2 bytes/coefficient/component —
      // tighter pixel cap than the streaming sequential path
      if (width.toLong * height > 16_000_000L) return None
      return decodeProgressive(b, scanStart, comps, quant, dcHuff, acHuff,
        restartInterval, width, height, hMax, vMax, mcusX, mcusY)
    }

    // per-component sample planes at native resolution
    val planeW = comps.map(c => mcusX * c.h * 8)
    val planeH = comps.map(c => mcusY * c.v * 8)
    val planes = Array.tabulate(comps.length)(i => new Array[Byte](planeW(i) * planeH(i)))
    comps.foreach(c => if (quant(c.tq) == null) return None)

    val reader = new BitReader(b, scanStart)
    val dcPred = new Array[Int](comps.length)
    val coeff = new Array[Double](64)
    val px = new Array[Int](64)
    var mcu = 0
    val totalMcus = mcusX * mcusY
    while (mcu < totalMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        if (!reader.readRestart()) return None
        java.util.Arrays.fill(dcPred, 0)
      }
      val mx = mcu % mcusX
      val my = mcu / mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val dh = dcHuff(c.dcTab)
        val ah = acHuff(c.acTab)
        val qt = quant(c.tq)
        if (dh == null || ah == null) return None
        var by = 0
        while (by < c.v) {
          var bx = 0
          while (bx < c.h) {
            // one 8x8 block
            java.util.Arrays.fill(coeff, 0.0)
            val t = reader.decode(dh)
            if (t < 0 || t > 11 || reader.hitMarker) return None
            dcPred(ci) += extend(reader.bits(t), t)
            coeff(0) = dcPred(ci).toDouble * qt(0)
            var k = 1
            var eob = false
            while (k < 64 && !eob) {
              val rs = reader.decode(ah)
              if (rs < 0 || reader.hitMarker) return None
              val r = rs >> 4
              val s = rs & 0x0f
              if (s == 0) {
                if (r == 15) k += 16 // ZRL
                else eob = true
              } else {
                k += r
                if (k > 63) return None
                coeff(Zigzag(k)) = extend(reader.bits(s), s).toDouble * qt(Zigzag(k))
                k += 1
              }
            }
            idct(coeff, px)
            val ox = (mx * c.h + bx) * 8
            val oy = (my * c.v + by) * 8
            val pw = planeW(ci)
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                planes(ci)((oy + yy) * pw + ox + xx) = px(yy * 8 + xx).toByte
                xx += 1
              }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      mcu += 1
    }

    assemble(comps, planes, planeW, width, height, hMax, vMax)
  }

  /** Progressive (SOF2) decode, T.81 G.2: every scan deposits or
    * refines DCT coefficients for one spectral band of one-or-more
    * components; pixels exist only after ALL scans are merged, so the
    * coefficient image lives in memory (Short per coefficient — the
    * same bound libjpeg/stb use; magnitudes in an 8-bit-precision
    * frame fit 16 bits at every approximation stage).
    *
    * Scan algebra implemented exactly as the spec's decision tables:
    *  - DC first (Ah=0): sequential DIFF decode, coefficient = pred<<Al;
    *    interleaved over the MCU grid when the scan has >1 component.
    *  - DC refine (Ah>0): one appended bit per block (coef |= 1<<Al).
    *  - AC first (Ah=0, single component, non-interleaved): runs of
    *    zeros + EXTEND values shifted by Al, with EOBn run lengths
    *    (eobrun = (1<<r)-1 + r extra bits) spanning whole blocks.
    *  - AC refine (Ah>0): the correction-bit walk — every nonzero
    *    coefficient passed over consumes one bit that may append 1<<Al
    *    toward its sign; zero-history slots count down the run before
    *    a ±1<<Al placement; EOBn refines all remaining nonzeros in the
    *    band and then covers eobrun further blocks.
    * Restart markers reset DC predictors AND the EOB run. DQT/DHT/DRI
    * segments between scans update tables mid-frame, per the spec.
    *
    * Cross-checked against the JDK's own progressive decode on
    * JDK-encoded multi-scan fixtures (JpegPixelsSpec) — same ±IDCT
    * rounding agreement as the sequential path.
    */
  private def decodeProgressive(b: Array[Byte], firstSos: Int,
                                comps: Array[Component],
                                quant: Array[Array[Int]],
                                dcHuff: Array[Huff], acHuff: Array[Huff],
                                restartInterval0: Int,
                                width: Int, height: Int, hMax: Int, vMax: Int,
                                mcusX: Int, mcusY: Int): Option[(Int, Int, Int, Array[Byte])] = {
    var restartInterval = restartInterval0
    val nC = comps.length
    // padded (MCU-aligned) block grid per component — interleaved DC
    // scans address this grid
    val bw = comps.map(c => mcusX * c.h)
    val bh = comps.map(c => mcusY * c.v)
    // non-interleaved grid: blocks covering the component's TRUE sample
    // area (T.81 A.2.2) — single-component scans address this one
    val nbw = comps.map(c => ((width * c.h + hMax - 1) / hMax + 7) / 8)
    val nbh = comps.map(c => ((height * c.v + vMax - 1) / vMax + 7) / 8)
    val coefs = Array.tabulate(nC)(i => new Array[Short](bw(i) * bh(i) * 64))
    val dcPred = new Array[Int](nC)
    var eobrun = 0
    var scans = 0
    var pos = firstSos
    var done = false

    /** Decode the scan whose SOS marker sits at `segStart`; returns the
      * position where entropy data ended, or -1 on malformed data.
      */
    def decodeScan(segStart: Int): Int = {
      val len = u16(b, segStart + 2)
      val seg = segStart + 4
      if (seg + len - 2 > b.length || len < 8) return -1
      val ns = u8(b, seg)
      if (ns < 1 || ns > nC || len - 2 < 4 + 2 * ns) return -1
      val scanComps = new Array[Int](ns)
      var i = 0
      while (i < ns) {
        val id = u8(b, seg + 1 + 2 * i)
        val tabs = u8(b, seg + 2 + 2 * i)
        val ci = comps.indexWhere(_.id == id)
        if (ci < 0) return -1
        comps(ci).dcTab = tabs >> 4
        comps(ci).acTab = tabs & 0x0f
        scanComps(i) = ci
        i += 1
      }
      val ss = u8(b, seg + 1 + 2 * ns)
      val se = u8(b, seg + 2 + 2 * ns)
      val ahAl = u8(b, seg + 3 + 2 * ns)
      val ah = ahAl >> 4
      val al = ahAl & 0x0f
      if (ss > 63 || se > 63 || ss > se || al > 13 || ah > 13) return -1
      if (ss == 0 && se != 0) return -1 // a DC scan is exactly coefficient 0
      if (ss > 0 && ns != 1) return -1  // AC scans are single-component
      val reader = new BitReader(b, seg + len - 2)
      java.util.Arrays.fill(dcPred, 0)
      eobrun = 0

      def restart(unit: Int): Boolean = {
        if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
          if (!reader.readRestart()) return false
          java.util.Arrays.fill(dcPred, 0)
          eobrun = 0
        }
        true
      }

      def dcUnit(ci: Int, blockIdx: Int): Boolean = {
        val base = blockIdx * 64
        if (ah == 0) {
          val dh = dcHuff(comps(ci).dcTab)
          if (dh == null) return false
          val t = reader.decode(dh)
          if (t < 0 || t > 11 || reader.hitMarker) return false
          dcPred(ci) += extend(reader.bits(t), t)
          coefs(ci)(base) = (dcPred(ci) << al).toShort
        } else if (reader.bit() == 1) {
          coefs(ci)(base) = (coefs(ci)(base) | (1 << al)).toShort
        }
        true
      }

      if (ss == 0) { // DC scan
        if (ns > 1) { // interleaved over the MCU grid
          var mcu = 0
          val total = mcusX * mcusY
          while (mcu < total) {
            if (!restart(mcu)) return -1
            val mx = mcu % mcusX
            val my = mcu / mcusX
            var si = 0
            while (si < ns) {
              val ci = scanComps(si)
              val c = comps(ci)
              var by = 0
              while (by < c.v) {
                var bx = 0
                while (bx < c.h) {
                  if (!dcUnit(ci, (my * c.v + by) * bw(ci) + mx * c.h + bx))
                    return -1
                  bx += 1
                }
                by += 1
              }
              si += 1
            }
            if (reader.hitMarker) return -1
            mcu += 1
          }
        } else { // single component: non-interleaved raster of its blocks
          val ci = scanComps(0)
          var blk = 0
          val total = nbw(ci) * nbh(ci)
          while (blk < total) {
            if (!restart(blk)) return -1
            if (!dcUnit(ci, (blk / nbw(ci)) * bw(ci) + blk % nbw(ci))) return -1
            if (reader.hitMarker) return -1
            blk += 1
          }
        }
      } else { // AC scan, single component, non-interleaved
        val ci = scanComps(0)
        val ahf = acHuff(comps(ci).acTab)
        if (ahf == null) return -1
        val cf = coefs(ci)
        val p1 = 1 << al
        var blk = 0
        val total = nbw(ci) * nbh(ci)
        while (blk < total) {
          if (!restart(blk)) return -1
          val base = ((blk / nbw(ci)) * bw(ci) + blk % nbw(ci)) * 64
          if (ah == 0) { // AC first
            if (eobrun > 0) eobrun -= 1
            else {
              var k = ss
              var end = false
              while (!end && k <= se) {
                val rs = reader.decode(ahf)
                if (rs < 0 || reader.hitMarker) return -1
                val r = rs >> 4
                val s = rs & 0x0f
                if (s == 0) {
                  if (r < 15) {
                    eobrun = (1 << r) - 1
                    if (r > 0) eobrun += reader.bits(r)
                    end = true
                  } else k += 16 // ZRL
                } else {
                  k += r
                  if (k > se) return -1
                  cf(base + k) = (extend(reader.bits(s), s) << al).toShort
                  k += 1
                }
              }
            }
          } else { // AC refinement: the correction-bit walk
            def refineAt(idx: Int): Unit =
              if (reader.bit() == 1 && (cf(idx) & p1) == 0)
                cf(idx) = (cf(idx) + (if (cf(idx) >= 0) p1 else -p1)).toShort
            if (eobrun > 0) {
              eobrun -= 1
              var k = ss
              while (k <= se) {
                if (cf(base + k) != 0) refineAt(base + k)
                k += 1
              }
            } else {
              var k = ss
              var cont = true
              while (cont) {
                val rs = reader.decode(ahf)
                if (rs < 0 || reader.hitMarker) return -1
                var r = rs >> 4
                val s = rs & 0x0f
                var newval = 0
                if (s == 0) {
                  if (r < 15) { // EOBn: refine the rest, then cover eobrun blocks
                    eobrun = (1 << r) - 1
                    if (r > 0) eobrun += reader.bits(r)
                    r = 64
                  } // r == 15: ZRL — pass over 16 zero-history slots
                } else {
                  if (s != 1) return -1 // only ±1 can appear in a refinement
                  newval = if (reader.bit() == 1) p1 else -p1
                }
                var placed = false
                while (k <= se && !placed) {
                  val idx = base + k
                  k += 1
                  if (cf(idx) != 0) refineAt(idx)
                  else if (r == 0) { if (newval != 0) cf(idx) = newval.toShort; placed = true }
                  else r -= 1
                }
                if (k > se) cont = false
              }
            }
          }
          if (reader.hitMarker) return -1
          blk += 1
        }
      }
      reader.pos
    }

    while (!done) {
      if (pos < 0 || pos + 1 >= b.length || u8(b, pos) != 0xff) return None
      val marker = u8(b, pos + 1)
      if (marker == 0xd9) done = true // EOI
      else if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) pos += 2
      else {
        if (pos + 3 >= b.length) return None
        val len = u16(b, pos + 2)
        val seg = pos + 4
        if (seg + len - 2 > b.length) return None
        marker match {
          case 0xda =>
            val after = decodeScan(pos)
            if (after < 0) return None
            scans += 1
            pos = nextMarker(b, after)
          case 0xdb =>
            if (!parseDqt(b, seg, seg + len - 2, quant)) return None
            pos += 2 + len
          case 0xc4 =>
            if (!parseDht(b, seg, seg + len - 2, dcHuff, acHuff)) return None
            pos += 2 + len
          case 0xdd =>
            restartInterval = u16(b, seg)
            pos += 2 + len
          case m if m >= 0xc0 && m <= 0xcf =>
            return None // a second frame inside the stream
          case _ => pos += 2 + len // APPn / COM / DNL: skip
        }
      }
    }
    if (scans == 0) return None

    // merge complete: dequantize + IDCT every block into sample planes
    val planeW = comps.indices.map(i => bw(i) * 8).toArray
    val planes = Array.tabulate(nC)(i => new Array[Byte](planeW(i) * bh(i) * 8))
    val coeff = new Array[Double](64)
    val px = new Array[Int](64)
    var ci = 0
    while (ci < nC) {
      val qt = quant(comps(ci).tq)
      if (qt == null) return None
      val cf = coefs(ci)
      val pw = planeW(ci)
      var blk = 0
      val total = bw(ci) * bh(ci)
      while (blk < total) {
        val base = blk * 64
        var k = 0
        while (k < 64) {
          coeff(Zigzag(k)) = cf(base + k).toDouble * qt(Zigzag(k))
          k += 1
        }
        idct(coeff, px)
        val ox = (blk % bw(ci)) * 8
        val oy = (blk / bw(ci)) * 8
        var yy = 0
        while (yy < 8) {
          var xx = 0
          while (xx < 8) {
            planes(ci)((oy + yy) * pw + ox + xx) = px(yy * 8 + xx).toByte
            xx += 1
          }
          yy += 1
        }
        blk += 1
      }
      ci += 1
    }
    assemble(comps, planes, planeW, width, height, hMax, vMax)
  }

  /** Shared output stage for the sequential and progressive paths:
    * component planes at native resolution → gray raster, or chroma
    * upsample + JFIF YCbCr→RGB.
    */
  private def assemble(comps: Array[Component], planes: Array[Array[Byte]],
                       planeW: Array[Int], width: Int, height: Int,
                       hMax: Int, vMax: Int): Option[(Int, Int, Int, Array[Byte])] = {
    if (comps.length == 1) {
      val out = new Array[Byte](width * height)
      val pw = planeW(0)
      var y = 0
      while (y < height) {
        System.arraycopy(planes(0), y * pw, out, y * width, width)
        y += 1
      }
      Some((width, height, 1, out))
    } else {
      // triangular ("fancy") chroma upsample for the 2× factors —
      // libjpeg's default and therefore what the JDK/libjpeg-family
      // decoders produce; nearest only for exotic factors. Then JFIF
      // YCbCr→RGB.
      def full(ci: Int): Array[Byte] = {
        val c = comps(ci)
        val trueW = (width * c.h + hMax - 1) / hMax
        val trueH = (height * c.v + vMax - 1) / vMax
        upsamplePlane(planes(ci), planeW(ci), trueW, trueH,
          hMax / c.h, vMax / c.v, width, height)
      }
      val yF = full(0)
      val cbF = full(1)
      val crF = full(2)
      val out = new Array[Byte](width * height * 3)
      var i = 0
      val n = width * height
      while (i < n) {
        val yv = yF(i) & 0xff
        val cb = (cbF(i) & 0xff) - 128
        val cr = (crF(i) & 0xff) - 128
        def clamp(d: Double): Byte = {
          val v = math.round(d).toInt
          (if (v < 0) 0 else if (v > 255) 255 else v).toByte
        }
        out(i * 3) = clamp(yv + 1.402 * cr)
        out(i * 3 + 1) = clamp(yv - 0.344136 * cb - 0.714136 * cr)
        out(i * 3 + 2) = clamp(yv + 1.772 * cb)
        i += 1
      }
      Some((width, height, 3, out))
    }
  }

  /** Upsample one component plane to full resolution. Factors of 2 use
    * libjpeg's triangle filter (h2v1/h2v2 fancy upsampling: nearer
    * sample weighted 3:1 horizontally, 3:1 vertically → 9/3/3/1 with
    * the 8/7 rounding pair) — the default of every libjpeg-family
    * decoder, so pixel values line up with the JDK reference within
    * IDCT rounding instead of differing by half a chroma step. Edge
    * clamping reproduces libjpeg's first/last duplication exactly
    * ((4c+1)>>2 = (4c+2)>>2 = c). Other factors fall back to nearest.
    */
  private def upsamplePlane(src: Array[Byte], stride: Int, trueW: Int, trueH: Int,
                            fx: Int, fy: Int, dw: Int, dh: Int): Array[Byte] = {
    val out = new Array[Byte](dw * dh)
    def s(x: Int, y: Int): Int = {
      val cx = if (x < 0) 0 else if (x >= trueW) trueW - 1 else x
      val cy = if (y < 0) 0 else if (y >= trueH) trueH - 1 else y
      src(cy * stride + cx) & 0xff
    }
    var y = 0
    if (fx == 1 && fy == 1) {
      while (y < dh) {
        var x = 0
        while (x < dw) { out(y * dw + x) = s(x, y).toByte; x += 1 }
        y += 1
      }
    } else if (fx == 2 && fy == 1) {
      while (y < dh) {
        var x = 0
        while (x < dw) {
          val j = x >> 1
          val v =
            if ((x & 1) == 0) (3 * s(j, y) + s(j - 1, y) + 1) >> 2
            else (3 * s(j, y) + s(j + 1, y) + 2) >> 2
          out(y * dw + x) = v.toByte
          x += 1
        }
        y += 1
      }
    } else if (fx == 1 && fy == 2) {
      while (y < dh) {
        val i = y >> 1
        val far = if ((y & 1) == 0) i - 1 else i + 1
        val rnd = if ((y & 1) == 0) 1 else 2
        var x = 0
        while (x < dw) {
          out(y * dw + x) = ((3 * s(x, i) + s(x, far) + rnd) >> 2).toByte
          x += 1
        }
        y += 1
      }
    } else if (fx == 2 && fy == 2) {
      while (y < dh) {
        val i = y >> 1
        val far = if ((y & 1) == 0) i - 1 else i + 1
        var x = 0
        while (x < dw) {
          val j = x >> 1
          def colsum(jj: Int): Int = 3 * s(jj, i) + s(jj, far)
          val v =
            if ((x & 1) == 0) (3 * colsum(j) + colsum(j - 1) + 8) >> 4
            else (3 * colsum(j) + colsum(j + 1) + 7) >> 4
          out(y * dw + x) = v.toByte
          x += 1
        }
        y += 1
      }
    } else {
      while (y < dh) {
        var x = 0
        while (x < dw) {
          out(y * dw + x) = s(x / fx, y / fy).toByte
          x += 1
        }
        y += 1
      }
    }
    out
  }

  /** Synthetic fixture ENCODER — the one place this file touches the
    * JDK's own codec (javax.imageio ships in every JVM, no media
    * library): a deterministic gradient image compressed by the JDK
    * writer. The decode path above never uses ImageIO; fixtures from an
    * independent implementation are the point — a decoder bug cannot
    * cancel out against its own encoder.
    */
  def syntheticJpeg(w: Int, h: Int, seed: Int, quality: Float = 0.8f,
                    progressive: Boolean = false): Array[Byte] = {
    System.setProperty("java.awt.headless", "true")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (x * 255 / math.max(1, w - 1) + seed) % 256
        val g = (y * 255 / math.max(1, h - 1) + seed * 3) % 256
        val b = ((x + y) * 255 / math.max(1, w + h - 2) + seed * 5) % 256
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(quality)
    if (progressive) // JDK's multi-scan successive-approximation script
      param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    ios.flush(); writer.dispose()
    bos.toByteArray
  }

  /** Independent-decoder reference: (w, h, meanR, meanG, meanB) via the
    * JDK's reader over RAW raster samples (getRGB would layer a
    * gray→sRGB gamma conversion on top of the JPEG samples). Used as
    * the runtime cross-check for `pixels_ok` — two unrelated decoder
    * implementations must agree on every image.
    */
  def jdkMeans(b: Array[Byte]): Option[(Int, Int, Double, Double, Double)] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      if (img == null) None
      else {
        val raster = img.getRaster
        val ch = raster.getNumBands
        var (sr, sg, sb) = (0L, 0L, 0L)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            if (ch == 1) {
              val v = raster.getSample(x, y, 0); sr += v; sg += v; sb += v
            } else {
              sr += raster.getSample(x, y, 0)
              sg += raster.getSample(x, y, 1)
              sb += raster.getSample(x, y, 2)
            }
            x += 1
          }
          y += 1
        }
        val n = img.getWidth.toLong * img.getHeight
        Some((img.getWidth, img.getHeight,
              sr.toDouble / n, sg.toDouble / n, sb.toDouble / n))
      }
    } catch { case _: Throwable => None }

  /** Nearest-neighbor thumbnail over the decoded raster — the shared
    * sampler [[ImageHeaders.thumbnailRaster]], whose positional FNV
    * fingerprint of the sampled bytes pins OUR decoder's determinism;
    * it cannot be compared across decoders — conformant IDCTs differ by
    * ±1 per sample, which the mean tolerance absorbs but a hash never
    * would.
    */
  def thumbnail(b: Array[Byte], tw: Int, th: Int): Option[(Int, Int, Double, Double, Double, Long)] = {
    if (tw <= 0 || th <= 0) return None
    decodeRaster(b).map { case (w, h, ch, raster) =>
      ImageHeaders.thumbnailRaster(raster, w, h, ch, tw, th)
    }
  }

  /** The JDK decoder's view of the SAME sampling grid — the runtime
    * cross-check for thumbnails (dims exact, sampled means within
    * decoder rounding).
    */
  def jdkThumbMeans(b: Array[Byte], tw: Int, th: Int): Option[(Double, Double, Double)] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      if (img == null) None
      else {
        val raster = img.getRaster
        val ch = raster.getNumBands
        var (sr, sg, sb) = (0L, 0L, 0L)
        var ty = 0
        while (ty < th) {
          val sy = (ty.toLong * img.getHeight / th).toInt
          var tx = 0
          while (tx < tw) {
            val sx = (tx.toLong * img.getWidth / tw).toInt
            if (ch == 1) { val v = raster.getSample(sx, sy, 0); sr += v; sg += v; sb += v }
            else {
              sr += raster.getSample(sx, sy, 0)
              sg += raster.getSample(sx, sy, 1)
              sb += raster.getSample(sx, sy, 2)
            }
            tx += 1
          }
          ty += 1
        }
        val n = tw.toLong * th
        Some((sr.toDouble / n, sg.toDouble / n, sb.toDouble / n))
      }
    } catch { case _: Throwable => None }

  /** Decode to (width, height, meanR, meanG, meanB) — the multimodal
    * feature contract shared with PngPixels/GifPixels (gray replicates
    * into all three channels).
    */
  def decode(b: Array[Byte]): Option[(Int, Int, Double, Double, Double)] =
    decodeRaster(b).map { case (w, h, ch, raster) =>
      var (sr, sg, sb) = (0L, 0L, 0L)
      val n = w.toLong * h
      if (ch == 1) {
        var i = 0
        while (i < raster.length) { val v = raster(i) & 0xff; sr += v; sg += v; sb += v; i += 1 }
      } else {
        var i = 0
        while (i < raster.length) {
          sr += raster(i) & 0xff; sg += raster(i + 1) & 0xff; sb += raster(i + 2) & 0xff
          i += 3
        }
      }
      (w, h, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
    }
}
