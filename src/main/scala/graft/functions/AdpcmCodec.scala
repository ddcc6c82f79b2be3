package graft.functions

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pure-JVM IMA ADPCM (DVI4) WAV codec — REAL compressed-audio decode,
  * closing the audio half of the compressed-codec seam the way
  * [[JpegCodec]] closed the image half (round 12). After this, the only
  * payloads still routed through the labeled stub are the
  * perceptual-transform codecs (MP3, H.264).
  *
  * Format facts the decoder must get right (specs/oracle pin each):
  * WAVE fmt tag 0x0011 (IMA ADPCM), 4 bits/sample, block-structured
  * `data` — every block opens with a 4-byte state header (int16 LE
  * predictor = the block's first sample stored VERBATIM, uint8 step
  * index, reserved 0) followed by 4-bit codes packed LOW NIBBLE FIRST;
  * the step index CARRIES ACROSS blocks (it is re-stored per header, so
  * a decoder must read it, not assume 0); a `fact` chunk carries the
  * true sample count; a planted `JUNK` chunk forces real chunk-walking.
  *
  * The quantizer is the public IMA/DVI algorithm (IMA Digital Audio
  * Focus Group, 1992; the same tables every libsndfile/ffmpeg DVI4
  * implementation ships): greedy 3-bit magnitude against step /2 /4
  * thresholds, reconstruction diff = step/8 + selected terms, predictor
  * clamped to int16, index moved by the 8-entry adjustment table and
  * clamped to [0, 88]. Everything is integer, so a SQL oracle replays
  * the full encode+decode state machine exactly (a per-(index,code)
  * transition table turns the greedy loop into one interval join — see
  * Round125Queries.m46).
  *
  * Reference scope: the reference has no media path
  * (/root/reference/tools.py is CSV/JSON/SQL only); public IMA ADPCM /
  * RIFF layout.
  */
object AdpcmCodec {

  /** 89-entry IMA step-size table (public IMA/DVI spec). */
  val StepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  /** Index adjustment per 3-bit magnitude (sign bit does not move it). */
  val IndexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** Samples per block: 1 stored in the header + 48 coded nibbles
    * (24 data bytes — a multiple of 4, as the WAV spec requires). */
  val SamplesPerBlock = 49
  private val BlockAlign = 4 + (SamplesPerBlock - 1) / 2

  private def clamp16(v: Int): Int =
    if (v < -32768) -32768 else if (v > 32767) 32767 else v

  /** Reconstruction diff for (stepIndex, 3-bit magnitude) — shared by
    * encode and decode so they cannot drift. */
  private def diffOf(step: Int, mag: Int): Int =
    (step >> 3) +
      (if ((mag & 4) != 0) step else 0) +
      (if ((mag & 2) != 0) step >> 1 else 0) +
      (if ((mag & 1) != 0) step >> 2 else 0)

  /** Greedy IMA quantize of one step: code (sign|mag), then the decoder
    * state update the encoder mirrors. Returns (code, pred', idx'). */
  def encodeStep(sample: Int, pred: Int, idx: Int): (Int, Int, Int) = {
    val step = StepTable(idx)
    val delta = sample - pred
    val sign = if (delta < 0) 8 else 0
    var d = if (delta < 0) -delta else delta
    var mag = 0
    if (d >= step) { mag |= 4; d -= step }
    if (d >= (step >> 1)) { mag |= 2; d -= step >> 1 }
    if (d >= (step >> 2)) mag |= 1
    val diff = diffOf(step, mag)
    val p = clamp16(if (sign != 0) pred - diff else pred + diff)
    val i = math.max(0, math.min(88, idx + IndexTable(mag)))
    (sign | mag, p, i)
  }

  /** Decode one 4-bit code against (pred, idx); returns (sample, idx'). */
  def decodeStep(code: Int, pred: Int, idx: Int): (Int, Int) = {
    val step = StepTable(idx)
    val mag = code & 7
    val diff = diffOf(step, mag)
    val p = clamp16(if ((code & 8) != 0) pred - diff else pred + diff)
    val i = math.max(0, math.min(88, idx + IndexTable(mag)))
    (p, i)
  }

  private def putStr(out: Array[Byte], p: Int, s: String): Int = {
    val b = s.getBytes(US_ASCII); System.arraycopy(b, 0, out, p, b.length)
    p + b.length
  }
  private def put16(out: Array[Byte], p: Int, v: Int): Int = {
    out(p) = v.toByte; out(p + 1) = (v >>> 8).toByte; p + 2
  }
  private def put32(out: Array[Byte], p: Int, v: Int): Int =
    put16(out, put16(out, p, v & 0xffff), v >>> 16)

  /** Encode mono IMA-ADPCM WAV. `samples.length` must be a multiple of
    * [[SamplesPerBlock]]; the step index carries across blocks (stored
    * in each block header, as real encoders do). A `JUNK` chunk sits
    * between `fact` and `data` so decode exercises real chunk-walking. */
  def encodeWavAdpcm(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    require(sampleRate > 0, s"adpcm: bad sample rate $sampleRate")
    require(samples.length % SamplesPerBlock == 0,
      s"adpcm: ${samples.length} samples not a multiple of $SamplesPerBlock")
    val nBlocks = samples.length / SamplesPerBlock
    val dataSize = nBlocks * BlockAlign
    val junkBody = 6 // deliberately even, content zero
    val riffSize = 4 + (8 + 20) + (8 + 4) + (8 + junkBody) + (8 + dataSize)
    val out = new Array[Byte](8 + riffSize)
    var p = 0
    p = putStr(out, p, "RIFF"); p = put32(out, p, riffSize)
    p = putStr(out, p, "WAVE")
    p = putStr(out, p, "fmt "); p = put32(out, p, 20)
    p = put16(out, p, 0x0011) // IMA ADPCM
    p = put16(out, p, 1) // mono
    p = put32(out, p, sampleRate)
    p = put32(out, p, sampleRate * BlockAlign / SamplesPerBlock) // avg B/s
    p = put16(out, p, BlockAlign)
    p = put16(out, p, 4) // bits per sample
    p = put16(out, p, 2) // cbSize
    p = put16(out, p, SamplesPerBlock)
    p = putStr(out, p, "fact"); p = put32(out, p, 4)
    p = put32(out, p, samples.length)
    p = putStr(out, p, "JUNK"); p = put32(out, p, junkBody)
    p += junkBody
    p = putStr(out, p, "data"); p = put32(out, p, dataSize)
    var idx = 0
    var b = 0
    while (b < nBlocks) {
      var pred: Int = samples(b * SamplesPerBlock)
      p = put16(out, p, pred & 0xffff)
      out(p) = idx.toByte; out(p + 1) = 0; p += 2
      var k = 1
      var nib = 0
      var have = false
      while (k < SamplesPerBlock) {
        val (code, p2, i2) = encodeStep(samples(b * SamplesPerBlock + k),
          pred, idx)
        pred = p2; idx = i2
        if (!have) { nib = code; have = true }
        else { out(p) = (nib | (code << 4)).toByte; p += 1; have = false }
        k += 1
      }
      require(!have, "adpcm: odd code count cannot fill bytes")
      b += 1
    }
    out
  }

  private def u16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def i32(b: Array[Byte], off: Int): Int =
    u16(b, off) | (u16(b, off + 2) << 16)
  private def tag(b: Array[Byte], off: Int): String =
    new String(b, off, 4, US_ASCII)

  /** Decode a mono IMA-ADPCM WAV back to PCM samples. Walks the RIFF
    * chunk stream (skipping JUNK/LIST/anything unknown, honoring the
    * odd-size pad rule), requires fmt tag 0x0011, reads per-block state
    * headers, and trims to the `fact` sample count. */
  def decodeWavAdpcm(b: Array[Byte]): Array[Int] = {
    require(b.length >= 12 && tag(b, 0) == "RIFF" && tag(b, 8) == "WAVE",
      "adpcm: not a RIFF/WAVE payload")
    var off = 12
    var fmtOff = -1
    var dataOff = -1
    var dataLen = 0
    var factSamples = -1
    while (off + 8 <= b.length) {
      val t = tag(b, off)
      val sz = i32(b, off + 4)
      t match {
        case "fmt " => fmtOff = off + 8
        case "data" => dataOff = off + 8; dataLen = sz
        case "fact" => factSamples = i32(b, off + 8)
        case _ => () // JUNK, LIST, … — walked over, never assumed absent
      }
      off += 8 + sz + (sz & 1) // odd chunks carry a pad byte
    }
    require(fmtOff >= 0, "adpcm: missing fmt chunk")
    require(dataOff >= 0, "adpcm: missing data chunk")
    require(u16(b, fmtOff) == 0x0011, "adpcm: fmt tag is not IMA ADPCM")
    require(u16(b, fmtOff + 2) == 1, "adpcm: not mono")
    require(u16(b, fmtOff + 14) == 4, "adpcm: not 4-bit")
    val blockAlign = u16(b, fmtOff + 12)
    val samplesPerBlock = u16(b, fmtOff + 18)
    require(blockAlign == 4 + (samplesPerBlock - 1) / 2,
      s"adpcm: block align $blockAlign vs $samplesPerBlock samples/block")
    val nBlocks = dataLen / blockAlign
    val total =
      if (factSamples >= 0) factSamples else nBlocks * samplesPerBlock
    val outArr = new Array[Int](total)
    var n = 0
    var blk = 0
    while (blk < nBlocks && n < total) {
      var p = dataOff + blk * blockAlign
      var pred = u16(b, p).toShort.toInt
      var idx = b(p + 2) & 0xff
      require(idx <= 88, s"adpcm: step index $idx out of range")
      p += 4
      outArr(n) = pred; n += 1
      var k = 1
      while (k < samplesPerBlock && n < total) {
        val byte = b(p + (k - 1) / 2) & 0xff
        val code = if ((k & 1) == 1) byte & 0xf else byte >>> 4
        val (s2, i2) = decodeStep(code, pred, idx)
        pred = s2; idx = i2
        outArr(n) = pred; n += 1
        k += 1
      }
      blk += 1
    }
    outArr
  }

  /** Static forwarder: text → IMA-ADPCM WAV over the [[AudioCodec]]
    * fixture samples (same closed form the oracle replays). */
  def encodeFromText(text: UTF8String, sampleRate: Int, n: Int): Array[Byte] =
    encodeWavAdpcm(sampleRate, AudioCodec.textSamples(text.toString, n))

  /** Static forwarder for codegen: payload → decoded samples array. */
  def decodeSamplesArray(bytes: Array[Byte])
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val s = decodeWavAdpcm(bytes)
    val out = new Array[Any](s.length)
    var i = 0
    while (i < s.length) { out(i) = Int.box(s(i)); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Column-API face for the IMA-ADPCM codec. */
object AdpcmExprs {
  /** Text → IMA-ADPCM WAV payload ([[AdpcmCodec.encodeFromText]]). */
  def encodeAdpcmFromText(text: Column, sampleRate: Int, n: Int): Column =
    Native.call("encode_adpcm_from_text", AdpcmCodec, "encodeFromText",
      BinaryType, Seq(sampleRate, n))(text)

  /** IMA-ADPCM WAV payload → decoded PCM samples as array<int>. */
  def decodeSamples(payload: Column): Column =
    Native.call("decode_adpcm_samples", AdpcmCodec, "decodeSamplesArray",
      ArrayType(IntegerType, containsNull = false))(payload)
}
