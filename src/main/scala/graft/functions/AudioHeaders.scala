package graft.functions

/** Pure-JVM WAV (RIFF) header metadata decode — the audio twin of
  * ImageHeaders: no media libraries, just byte parsing of the canonical
  * 44-byte PCM header (RIFF/WAVE + "fmt " chunk + "data" chunk size).
  * Gives the multimodal pipeline real audio metadata (channels, sample
  * rate, bit depth, duration); [[decodePcmSamples]] decodes the PCM16
  * samples themselves.
  */
object AudioHeaders {

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    (u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) |
      (u8(b, i + 3).toLong << 24)) & 0xffffffffL

  private def tag(b: Array[Byte], i: Int, s: String): Boolean =
    b.length >= i + 4 && (0 until 4).forall(j => (b(i + j) & 0xff) == s.charAt(j))

  /** (channels, sample_rate, bits_per_sample, duration_ms) if the bytes
    * carry a valid canonical PCM WAV header.
    */
  def parse(b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (b.length < 44 || !tag(b, 0, "RIFF") || !tag(b, 8, "WAVE") ||
        !tag(b, 12, "fmt ") || le32(b, 16) != 16L || le16(b, 20) != 1 ||
        !tag(b, 36, "data")) return None
    val channels = le16(b, 22)
    val sampleRate = le32(b, 24)
    val byteRate = le32(b, 28)
    val bits = le16(b, 34)
    val dataSize = le32(b, 40)
    // internal consistency: byteRate must equal rate*channels*bits/8,
    // or the header is corrupt/mislabeled. byteRate must ALSO be
    // nonzero on its own: bits=4, channels=1, rate=1 makes the product
    // floor to 0, and a 0 byteRate would turn the duration division
    // into an executor-killing ArithmeticException
    if (channels == 0 || sampleRate == 0L || bits == 0 || byteRate == 0L ||
        byteRate != sampleRate * channels * bits / 8) return None
    Some((channels, sampleRate.toInt, bits,
          dataSize * 1000L / byteRate))
  }

  /** Canonical 44-byte PCM header declaring `nSamples` frames (data
    * bytes themselves omitted — header-only payload, like a truncated
    * upload; the parser never reads past byte 43).
    */
  def syntheticHeader(channels: Int, sampleRate: Int, bits: Int, nSamples: Long): Array[Byte] = {
    val blockAlign = channels * bits / 8
    val byteRate = sampleRate.toLong * blockAlign
    val dataSize = nSamples * blockAlign
    val b = new java.io.ByteArrayOutputStream(44)
    def w16(v: Int): Unit = { b.write(v & 0xff); b.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = (0 until 4).foreach(i => b.write(((v >> (8 * i)) & 0xff).toInt))
    def tag(s: String): Unit = s.foreach(c => b.write(c.toInt))
    tag("RIFF"); w32(36L + dataSize); tag("WAVE")
    tag("fmt "); w32(16L); w16(1); w16(channels); w32(sampleRate.toLong)
    w32(byteRate); w16(blockAlign); w16(bits)
    tag("data"); w32(dataSize)
    b.toByteArray
  }

  /** REAL sample decode for PCM16 WAV — no codec needed: the data chunk
    * is raw 16-bit LE samples. Returns (n_samples, rms, peak) over all
    * samples (channel-interleaved counted individually), or None unless
    * the header is canonical PCM16 with a complete data payload.
    * MP3, FLAC and Ogg get header walks only — this is the one audio
    * format the engine decodes END TO END.
    */
  def decodePcmSamples(b: Array[Byte]): Option[(Long, Double, Int)] =
    parse(b).flatMap { case (_, _, bits, _) =>
      if (bits != 16) None
      else {
        val dataSize = le32(b, 40)
        if (44L + dataSize > b.length || dataSize % 2 != 0) None
        else {
          val n = (dataSize / 2).toInt
          var sumSq = 0L
          var peak = 0
          var i = 0
          while (i < n) {
            val s = (le16(b, 44 + 2 * i) << 16) >> 16 // sign-extend
            sumSq += s.toLong * s
            if (math.abs(s) > peak) peak = math.abs(s)
            i += 1
          }
          val rms = if (n == 0) 0.0 else math.sqrt(sumSq.toDouble / n)
          Some((n.toLong, rms, peak))
        }
      }
    }

  /** Complete PCM16 WAV (header + samples) carrying a ±amplitude square
    * wave — a REAL decodable waveform whose RMS equals the amplitude
    * exactly (every sample contributes amplitude² to the mean square).
    */
  def syntheticSquareWav(channels: Int, sampleRate: Int, amplitude: Short,
                         nFrames: Int): Array[Byte] = {
    val header = syntheticHeader(channels, sampleRate, bits = 16, nSamples = nFrames.toLong)
    val out = new java.io.ByteArrayOutputStream(header.length + nFrames * channels * 2)
    out.write(header, 0, header.length)
    var i = 0
    while (i < nFrames * channels) {
      val s = if ((i / channels) % 2 == 0) amplitude.toInt else -amplitude.toInt
      out.write(s & 0xff); out.write((s >> 8) & 0xff)
      i += 1
    }
    out.toByteArray
  }
}
