package graft.functions

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pure-JVM WAV (RIFF/WAVE, 16-bit mono PCM) codec — the audio leg of
  * the multimodal family, real since round 8 (the image leg is
  * [[ImageCodec]]; video remains the one honest stub).
  *
  * Format facts the decoder must get right (and the specs/oracles pin):
  * RIFF is a CHUNK stream — readers must WALK chunks and skip unknown
  * ones (our encoder plants a `LIST` chunk before `data` so a decoder
  * that assumes fixed offsets fails loudly in tests); chunk sizes are
  * little-endian; odd-sized chunks carry a pad byte (word alignment);
  * `fmt ` must precede `data` and declare PCM/16-bit/mono here; samples
  * are little-endian SIGNED 16-bit.
  *
  * Static entry points for codegen, same forwarder pattern as
  * [[NativeHash]]/[[ImageCodec]].
  *
  * Reference scope: the reference pipeline has no media path
  * (/root/reference/tools.py is CSV/JSON/SQL only); public RIFF/WAVE
  * layout.
  */
object AudioCodec {

  /** Encode mono 16-bit PCM. A `LIST/INFO` chunk sits between `fmt `
    * and `data` so decode exercises real chunk-walking. */
  def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    require(sampleRate > 0, s"wav: bad sample rate $sampleRate")
    val dataSize = samples.length * 2
    val listBody = "INFO".getBytes(US_ASCII)
    val riffSize = 4 + (8 + 16) + (8 + listBody.length) + (8 + dataSize)
    val out = new Array[Byte](8 + riffSize)
    var p = 0
    def putStr(s: String): Unit = {
      val b = s.getBytes(US_ASCII); System.arraycopy(b, 0, out, p, b.length)
      p += b.length
    }
    def put16(v: Int): Unit = {
      out(p) = v.toByte; out(p + 1) = (v >>> 8).toByte; p += 2
    }
    def put32(v: Int): Unit = { put16(v & 0xffff); put16(v >>> 16) }
    putStr("RIFF"); put32(riffSize); putStr("WAVE")
    putStr("fmt "); put32(16)
    put16(1) // PCM
    put16(1) // mono
    put32(sampleRate)
    put32(sampleRate * 2) // byte rate
    put16(2)  // block align
    put16(16) // bits per sample
    putStr("LIST"); put32(listBody.length)
    System.arraycopy(listBody, 0, out, p, listBody.length); p += listBody.length
    putStr("data"); put32(dataSize)
    var i = 0
    while (i < samples.length) {
      out(p) = samples(i).toByte; out(p + 1) = (samples(i) >> 8).toByte
      p += 2; i += 1
    }
    out
  }

  // ── G.711 µ-law companding (ITU-T G.711, the 8-bit telephony format) ────

  /** Linear 16-bit → µ-law byte: clamp to 32635, add the 0x84 bias,
    * 3-bit exponent = floor(log2) − 7, 4-bit mantissa, all bits
    * inverted on the wire (the G.711 convention). */
  def mulawEncode(x0: Int): Int = {
    val sign = if (x0 < 0) 0x80 else 0
    var x = if (x0 < 0) -x0 else x0
    if (x > 32635) x = 32635
    x += 132
    val exponent = 31 - Integer.numberOfLeadingZeros(x) - 7 // floor(log2) − 7
    val mantissa = (x >> (exponent + 3)) & 0x0f
    (~(sign | (exponent << 4) | mantissa)) & 0xff
  }

  /** µ-law byte → linear 16-bit (the exact inverse quantization). */
  def mulawDecode(u0: Int): Int = {
    val u = (~u0) & 0xff
    val exponent = (u >> 4) & 7
    val mantissa = u & 0x0f
    val mag = (((mantissa << 3) + 132) << exponent) - 132
    if ((u & 0x80) != 0) -mag else mag
  }

  /** Encode as a µ-law WAV: format tag 7, 8 bits/sample, mono. */
  def encodeWavMulaw(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    require(sampleRate > 0, s"wav: bad sample rate $sampleRate")
    val dataSize = samples.length
    val riffSize = 4 + (8 + 16) + (8 + dataSize)
    val out = new Array[Byte](8 + riffSize)
    var p = 0
    def putStr(s: String): Unit = {
      val b = s.getBytes(US_ASCII); System.arraycopy(b, 0, out, p, b.length)
      p += b.length
    }
    def put16(v: Int): Unit = {
      out(p) = v.toByte; out(p + 1) = (v >>> 8).toByte; p += 2
    }
    def put32(v: Int): Unit = { put16(v & 0xffff); put16(v >>> 16) }
    putStr("RIFF"); put32(riffSize); putStr("WAVE")
    putStr("fmt "); put32(16)
    put16(7) // µ-law
    put16(1) // mono
    put32(sampleRate)
    put32(sampleRate) // byte rate: 1 byte per sample
    put16(1) // block align
    put16(8) // bits per sample
    putStr("data"); put32(dataSize)
    var i = 0
    while (i < samples.length) {
      out(p) = mulawEncode(samples(i).toInt).toByte; p += 1; i += 1
    }
    out
  }

  /** Static forwarder: text → µ-law WAV with `n` fixture samples. */
  def encodeFromTextMulaw(text: UTF8String, sampleRate: Int,
      n: Int): Array[Byte] =
    encodeWavMulaw(sampleRate, textSamples(text.toString, n))

  final case class DecodedAudio(sampleRate: Int, samples: Array[Int])

  private def u16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def i32(b: Array[Byte], off: Int): Int =
    u16(b, off) | (u16(b, off + 2) << 16)
  private def tag(b: Array[Byte], off: Int): String =
    new String(b, off, 4, US_ASCII)

  /** Decode by walking the chunk stream: unknown chunks are skipped
    * (with RIFF's odd-size pad byte), `fmt ` must declare mono 16-bit
    * PCM (format 1) or mono 8-bit µ-law (format 7, expanded to linear
    * through [[mulawDecode]]). Throws on anything else — loud beats
    * silent garbage. */
  def decodeWav(b: Array[Byte]): DecodedAudio = {
    require(b != null && b.length >= 12, "wav: payload too short")
    require(tag(b, 0) == "RIFF" && tag(b, 8) == "WAVE",
      s"wav: bad magic '${tag(b, 0)}'/'${if (b.length >= 12) tag(b, 8) else "?"}'")
    var p = 12
    var rate = -1
    var fmt = -1
    var samples: Array[Int] = null
    while (p + 8 <= b.length && (rate < 0 || samples == null)) {
      val id = tag(b, p)
      val size = i32(b, p + 4)
      require(size >= 0 && p + 8 + size <= b.length,
        s"wav: chunk '$id' overruns payload")
      id match {
        case "fmt " =>
          require(size >= 16, "wav: fmt chunk too small")
          fmt = u16(b, p + 8)
          require(fmt == 1 || fmt == 7,
            s"wav: only PCM (1) and µ-law (7) supported, got $fmt")
          require(u16(b, p + 10) == 1, "wav: only mono supported")
          rate = i32(b, p + 12)
          val bits = u16(b, p + 22)
          require((fmt == 1 && bits == 16) || (fmt == 7 && bits == 8),
            s"wav: format $fmt with $bits bits unsupported")
        case "data" =>
          require(rate > 0, "wav: data chunk before fmt")
          if (fmt == 1) {
            val n = size / 2
            samples = new Array[Int](n)
            var i = 0
            while (i < n) {
              // little-endian signed 16-bit
              samples(i) = (u16(b, p + 8 + 2 * i) << 16) >> 16
              i += 1
            }
          } else {
            // µ-law: one byte per sample, expanded to linear 16-bit
            samples = new Array[Int](size)
            var i = 0
            while (i < size) {
              samples(i) = mulawDecode(b(p + 8 + i) & 0xff)
              i += 1
            }
          }
        case _ => // unknown chunk: skip
      }
      p += 8 + size + (size & 1) // odd chunks carry a pad byte
    }
    require(rate > 0 && samples != null, "wav: missing fmt/data chunk")
    DecodedAudio(rate, samples)
  }

  /** Deterministic fixture samples from text codepoints: sample i =
    * ((cp(i mod len)·257) mod 65536) − 32768 — spans the signed range
    * and sign-alternates enough to exercise zero-crossing counting; a
    * SQL oracle replays it in plain integer arithmetic. Empty text →
    * all −32768 (cp = 0). */
  def textSamples(text: String, n: Int): Array[Short] = {
    val cps = text.codePoints().toArray
    Array.tabulate(n) { i =>
      val cp = if (cps.isEmpty) 0 else cps(i % cps.length)
      ((cp * 257) % 65536 - 32768).toShort
    }
  }

  /** Static forwarder: text → WAV payload with `n` fixture samples. */
  def encodeFromText(text: UTF8String, sampleRate: Int, n: Int): Array[Byte] =
    encodeWav(sampleRate, textSamples(text.toString, n))

  /** Schema of [[statsRow]] — all integer-exact. */
  val statsSchema: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("sum_abs", LongType, nullable = false),
    StructField("energy", LongType, nullable = false),
    StructField("zero_crossings", LongType, nullable = false),
    StructField("s_min", IntegerType, nullable = false),
    StructField("s_max", IntegerType, nullable = false)))

  /** Static forwarder: decode + one-pass integer sample statistics.
    * `zero_crossings` counts sign flips between consecutive samples with
    * sign(s) = s ≥ 0 (zeros positive) — order-sensitive, so a decoder
    * that misreads endianness or walks chunks wrong breaks it even when
    * magnitude sums survive. `energy` = Σs² (≤ 2³⁰ per sample — longs
    * hold ~2³³ samples). */
  def statsRow(bytes: Array[Byte]): InternalRow = {
    val d = decodeWav(bytes)
    val s = d.samples
    var sumAbs = 0L
    var energy = 0L
    var zc = 0L
    var mn = if (s.isEmpty) 0 else Int.MaxValue
    var mx = if (s.isEmpty) 0 else Int.MinValue
    var i = 0
    while (i < s.length) {
      val v = s(i)
      sumAbs += math.abs(v)
      energy += v.toLong * v
      if (i > 0 && ((s(i - 1) >= 0) != (v >= 0))) zc += 1
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    InternalRow(d.sampleRate, s.length.toLong, sumAbs, energy, zc, mn, mx)
  }

  /** Static forwarder: decode → per-frame energies Σs² over consecutive
    * windows of `frameLen` samples (last partial frame included) — the
    * short-time energy series under every voice-activity / silence-trim
    * gate. Exact longs: s² ≤ 2³⁰, so a frame holds ~2³³ samples. */
  def frameEnergies(bytes: Array[Byte],
      frameLen: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val d = decodeWav(bytes)
    val s = d.samples
    val n = (s.length + frameLen - 1) / frameLen
    val out = new Array[Any](n)
    var f = 0
    while (f < n) {
      var e = 0L
      var i = f * frameLen
      val end = math.min(i + frameLen, s.length)
      while (i < end) { e += s(i).toLong * s(i); i += 1 }
      out(f) = Long.box(e)
      f += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Static forwarder: decode → raw PCM samples widened to ints. */
  def decodeSamplesArray(bytes: Array[Byte])
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val s = decodeWav(bytes).samples
    val out = new Array[Any](s.length)
    var i = 0
    while (i < s.length) { out(i) = Int.box(s(i).toInt); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object AudioExprs {
  /** Text → WAV payload ([[AudioCodec.encodeFromText]]). */
  def encodeWavFromText(text: Column, sampleRate: Int, n: Int): Column =
    Native.call("encode_wav_from_text", AudioCodec, "encodeFromText",
      BinaryType, Seq(sampleRate, n))(text)

  /** Text → µ-law WAV payload ([[AudioCodec.encodeFromTextMulaw]]). */
  def encodeMulawFromText(text: Column, sampleRate: Int, n: Int): Column =
    Native.call("encode_mulaw_from_text", AudioCodec, "encodeFromTextMulaw",
      BinaryType, Seq(sampleRate, n))(text)

  /** WAV payload → integer sample-statistics struct ([[AudioCodec.statsRow]]). */
  def audioStats(payload: Column): Column =
    Native.call("audio_stats", AudioCodec, "statsRow", AudioCodec.statsSchema)(payload)

  /** WAV payload → per-frame Σs² energies (array<long>) for short-time
    * composition ([[AudioCodec.frameEnergies]]). */
  def frameEnergies(payload: Column, frameLen: Int): Column =
    Native.call("audio_frame_energies", AudioCodec, "frameEnergies",
      ArrayType(LongType, containsNull = false), Seq(frameLen))(payload)

  /** WAV payload → decoded PCM samples as array<int> (the audio mirror of
    * [[ImageCodec.decodePixels]] — for window/patch extraction downstream
    * of the real header parse). */
  def decodeSamples(payload: Column): Column =
    Native.call("decode_audio_samples", AudioCodec, "decodeSamplesArray",
      ArrayType(IntegerType, containsNull = false))(payload)
}
