package graft.functions

/** Pure-JVM MP4 (ISO-BMFF) header metadata decode — completes the
  * image/audio/video modality triple: walks the top-level box list for
  * `ftyp` (major brand) and `moov`/`mvhd` (timescale + duration), no
  * media libraries. MP4 samples are not decoded (AVI frames are, in
  * [[AviFrames]]).
  */
object VideoHeaders {

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be32(b: Array[Byte], i: Int): Long =
    ((u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) |
      (u8(b, i + 2) << 8) | u8(b, i + 3)) & 0xffffffffL

  private def boxType(b: Array[Byte], i: Int): String =
    if (b.length < i + 8) "" else new String(b.slice(i + 4, i + 8), "US-ASCII")

  /** (major_brand, timescale, duration_ms) if the bytes open with a
    * valid ftyp box and contain a moov/mvhd (version 0 or 1).
    */
  def parse(b: Array[Byte]): Option[(String, Int, Long)] = {
    if (b.length < 16 || boxType(b, 0) != "ftyp") return None
    val brand = new String(b.slice(8, 12), "US-ASCII")
    var off = be32(b, 0)
    var result: Option[(String, Int, Long)] = None
    while (result.isEmpty && off + 8 <= b.length) {
      val size = be32(b, off.toInt)
      if (size < 8) return None
      if (boxType(b, off.toInt) == "moov") {
        var in = off + 8
        val end = off + size
        while (result.isEmpty && in + 8 <= end && in + 8 <= b.length) {
          val isz = be32(b, in.toInt)
          if (isz < 8) return None
          if (boxType(b, in.toInt) == "mvhd" && in + 32 <= b.length) {
            val version = u8(b, in.toInt + 8)
            val (timescale, duration) =
              if (version == 0)
                (be32(b, in.toInt + 20), be32(b, in.toInt + 24))
              else if (version == 1 && in + 40 <= b.length)
                (be32(b, in.toInt + 28),
                 (be32(b, in.toInt + 32) << 32) | be32(b, in.toInt + 36))
              else return None
            if (timescale == 0L) return None
            result = Some((brand, timescale.toInt, duration * 1000L / timescale))
          }
          in += isz
        }
        if (result.isEmpty) return None
      }
      off += size
    }
    result
  }

  /** Minimal valid ftyp + moov(mvhd v0) byte stream declaring the given
    * timescale and duration (media data boxes omitted — header-only).
    */
  def syntheticHeader(brand: String, timescale: Int, durationTicks: Long): Array[Byte] = {
    require(brand.length == 4)
    val out = new java.io.ByteArrayOutputStream(16 + 8 + 108)
    def w32(v: Long): Unit =
      (3 to 0 by -1).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
    def tag(s: String): Unit = s.foreach(c => out.write(c.toInt))
    // ftyp: size 16, brand + minor_version
    w32(16L); tag("ftyp"); tag(brand); w32(0L)
    // moov: 8 + mvhd(108)
    w32(116L); tag("moov")
    w32(108L); tag("mvhd"); w32(0L) // version 0 + flags
    w32(0L); w32(0L)                // ctime, mtime
    w32(timescale.toLong); w32(durationTicks)
    (0 until 20).foreach(_ => w32(0L)) // rate..next_track padding
    out.toByteArray
  }
}
