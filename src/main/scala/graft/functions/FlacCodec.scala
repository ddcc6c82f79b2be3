package graft.functions

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pure-JVM FLAC codec (subset) — REAL lossless compressed-audio decode,
  * the third front of the compressed-codec seam after baseline JPEG
  * ([[JpegCodec]]) and IMA ADPCM ([[AdpcmCodec]]). FLAC is the format
  * lossless audio corpora actually ship in; after this the labeled stub
  * covers only the perceptual-transform codecs (MP3, H.264).
  *
  * Format facts the decoder must get right (spec/oracle pin each, all
  * from the public FLAC format spec — RFC 9639 / xiph.org):
  *  - `fLaC` magic, then a metadata-block walk: STREAMINFO (type 0,
  *    mandatory — blocksize, sample rate, channels, bits/sample, total
  *    samples) plus a planted PADDING block so decode exercises real
  *    block-walking and the last-block flag.
  *  - Frames: 14-bit sync 0x3FFE, fixed-blocksize strategy with a
  *    UTF-8-coded frame number, blocksize code 0b0110 (8-bit
  *    blocksize−1 stored at the header tail), CRC-8 (poly 0x07) over
  *    the header, CRC-16 (poly 0x8005) over the whole frame.
  *  - Subframes: CONSTANT (000000), VERBATIM (000001), FIXED order 0–4
  *    (001ooo) with the spec's fixed predictors; residuals in
  *    partitioned-Rice method 00 (4-bit parameters), zigzag mapping
  *    `v≥0 → 2v, v<0 → −2v−1`, unary quotient as zeros-then-one.
  *
  * Everything is integer — predictor choice (min Σ|residual|, ties to
  * the lower order), Rice parameter choice (smallest p with
  * mean zigzag ≤ 2^p), and the per-sample bit cost (q+1+p) — so a SQL
  * oracle replays the ENTIRE encode decision chain and the decoded
  * samples from the fixture's closed form; the decoder earns the match
  * by parsing actual bits with both CRCs verified.
  *
  * Reference scope: the reference has no media path
  * (/root/reference/tools.py is CSV/JSON/SQL only); public FLAC spec.
  */
object FlacCodec {

  val BlockSize = 64

  /** MSB-first bit writer. */
  final class BitWriter {
    private var buf = new Array[Byte](256)
    private var bitLen = 0L
    def lengthBits: Long = bitLen
    def lengthBytes: Int = ((bitLen + 7) / 8).toInt
    private def ensure(nBytes: Int): Unit =
      if (nBytes > buf.length) {
        val b = new Array[Byte](math.max(nBytes, buf.length * 2))
        System.arraycopy(buf, 0, b, 0, buf.length); buf = b
      }
    def writeBits(value: Long, n: Int): Unit = {
      require(n >= 0 && n <= 63, s"flac: writeBits width $n")
      var i = n - 1
      while (i >= 0) {
        val bit = (value >>> i) & 1L
        val byteAt = (bitLen / 8).toInt
        ensure(byteAt + 1)
        if (bit != 0L)
          buf(byteAt) = (buf(byteAt) | (0x80 >>> (bitLen % 8).toInt)).toByte
        bitLen += 1
        i -= 1
      }
    }
    def writeUnary(q: Int): Unit = { // q zeros then a one
      var i = 0
      while (i < q) { writeBits(0, 1); i += 1 }
      writeBits(1, 1)
    }
    def alignByte(): Unit = if (bitLen % 8 != 0) writeBits(0, (8 - bitLen % 8).toInt)
    def bytes: Array[Byte] = java.util.Arrays.copyOf(buf, lengthBytes)
  }

  /** MSB-first bit reader with a hard end. */
  final class BitReader(b: Array[Byte]) {
    private var pos = 0L // in bits
    def bitPos: Long = pos
    def bytePos: Int = { require(pos % 8 == 0, "flac: not byte-aligned"); (pos / 8).toInt }
    def seekByte(byteOff: Int): Unit = pos = byteOff.toLong * 8
    def readBits(n: Int): Long = {
      require(n >= 0 && n <= 63, s"flac: readBits width $n")
      require(pos + n <= b.length.toLong * 8, "flac: truncated bitstream")
      var v = 0L
      var i = 0
      while (i < n) {
        val byteAt = (pos / 8).toInt
        val bit = (b(byteAt) >>> (7 - (pos % 8).toInt)) & 1
        v = (v << 1) | bit
        pos += 1
        i += 1
      }
      v
    }
    def readUnary(): Int = {
      var q = 0
      while (readBits(1) == 0L) {
        q += 1
        require(q <= (1 << 20), "flac: runaway unary")
      }
      q
    }
  }

  /** CRC-8, polynomial x^8+x^2+x+1 (0x07), init 0 — FLAC frame header. */
  def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= b(i) & 0xff
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff
        k += 1
      }
      i += 1
    }
    crc
  }

  /** CRC-16, polynomial 0x8005, init 0 — FLAC whole-frame check. */
  def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
          else (crc << 1) & 0xffff
        k += 1
      }
      i += 1
    }
    crc
  }

  /** Zigzag map: v≥0 → 2v, v<0 → −2v−1 (the FLAC residual mapping). */
  def zigzag(v: Int): Long = if (v >= 0) 2L * v else -2L * v - 1L
  def unZigzag(u: Long): Int =
    (if ((u & 1L) == 0L) u >>> 1 else -((u + 1L) >>> 1)).toInt

  /** Fixture samples: a per-doc ramp plus a codepoint wobble —
    * slope = (cp(0) mod 7) − 3, s(n) = slope·n + (cp(n mod len) mod 32)
    * − 16 — so the fixed-predictor choice genuinely varies by document
    * (flat docs pick order 0, steep ones order 1/2) and a SQL oracle
    * replays both the samples and the choice in plain integers. */
  def flacTextSamples(text: String, n: Int): Array[Int] = {
    val cps = text.codePoints().toArray
    def cp(i: Int): Int = if (cps.isEmpty) 0 else cps(i % cps.length)
    val slope = (cp(0) % 7) - 3
    Array.tabulate(n)(i => slope * i + (cp(i) % 32) - 16)
  }

  /** Σ|residual| of fixed order `o` over positions k ∈ [o, n) of one
    * block — the encoder's order-choice cost (shared with the spec). */
  def fixedCost(s: Array[Int], from: Int, o: Int): Long = {
    var c = 0L
    var k = from + o
    while (k < from + BlockSize) {
      val r = o match {
        case 0 => s(k)
        case 1 => s(k) - s(k - 1)
        case 2 => s(k) - 2 * s(k - 1) + s(k - 2)
        case 3 => s(k) - 3 * s(k - 1) + 3 * s(k - 2) - s(k - 3)
        case _ => s(k) - 4 * s(k - 1) + 6 * s(k - 2) - 4 * s(k - 3) + s(k - 4)
      }
      c += math.abs(r)
      k += 1
    }
    c
  }

  /** Smallest Rice parameter p ∈ [0,14] with Σzigzag ≤ nRes·2^p. */
  def riceParam(sumZig: Long, nRes: Int): Int = {
    var p = 0
    while (p < 14 && sumZig > (nRes.toLong << p)) p += 1
    require(sumZig <= (nRes.toLong << p), "flac: residuals exceed rice range")
    p
  }

  private def utf8FrameNumber(w: BitWriter, v: Long): Unit = {
    // FLAC's UTF-8-style coded number (frame index for fixed blocksize)
    if (v < 0x80) w.writeBits(v, 8)
    else if (v < 0x800) {
      w.writeBits(0xc0 | (v >>> 6), 8); w.writeBits(0x80 | (v & 0x3f), 8)
    } else {
      require(v < 0x10000, "flac: frame number too large for this subset")
      w.writeBits(0xe0 | (v >>> 12), 8)
      w.writeBits(0x80 | ((v >>> 6) & 0x3f), 8)
      w.writeBits(0x80 | (v & 0x3f), 8)
    }
  }

  private def readUtf8Number(r: BitReader): Long = {
    val b0 = r.readBits(8).toInt
    if ((b0 & 0x80) == 0) b0.toLong
    else {
      var extra = 0
      var mask = 0x40
      while ((b0 & mask) != 0) { extra += 1; mask >>>= 1 }
      require(extra >= 1 && extra <= 6, "flac: bad UTF-8 coded number lead")
      var v = (b0 & (mask - 1)).toLong
      var i = 0
      while (i < extra) {
        val c = r.readBits(8).toInt
        require((c & 0xc0) == 0x80, "flac: bad UTF-8 continuation")
        v = (v << 6) | (c & 0x3f)
        i += 1
      }
      v
    }
  }

  /** Encode mono 16-bit FLAC. `samples.length` must be a multiple of
    * [[BlockSize]]. Subframe choice per frame: CONSTANT when all equal,
    * else FIXED at the min-Σ|residual| order in {0,1,2} (ties to the
    * lower order), Rice partition order 0. A PADDING metadata block is
    * planted after STREAMINFO so decode walks blocks for real. */
  def encodeFlac(samples: Array[Int], bps: Int = 16,
      forceVerbatim: Boolean = false): Array[Byte] = {
    require(samples.length % BlockSize == 0,
      s"flac: ${samples.length} samples not a multiple of $BlockSize")
    samples.foreach(s => require(s >= -(1 << (bps - 1)) && s < (1 << (bps - 1)),
      s"flac: sample $s outside $bps-bit range"))
    val w = new BitWriter
    w.writeBits(0x664c6143L, 32) // "fLaC"
    // STREAMINFO (type 0, not last)
    w.writeBits(0, 1); w.writeBits(0, 7); w.writeBits(34, 24)
    w.writeBits(BlockSize, 16); w.writeBits(BlockSize, 16)
    w.writeBits(0, 24); w.writeBits(0, 24) // min/max framesize unknown
    w.writeBits(8000, 20) // sample rate
    w.writeBits(0, 3) // channels − 1
    w.writeBits(bps - 1, 5)
    w.writeBits(samples.length.toLong, 36)
    var i = 0
    while (i < 4) { w.writeBits(0, 32); i += 1 } // unset MD5
    // PADDING (type 1, last)
    w.writeBits(1, 1); w.writeBits(1, 7); w.writeBits(4, 24); w.writeBits(0, 32)
    val nFrames = samples.length / BlockSize
    var f = 0
    while (f < nFrames) {
      val frameStart = w.lengthBytes // byte-aligned by construction
      w.writeBits(0x3ffe, 14) // sync
      w.writeBits(0, 1) // reserved
      w.writeBits(0, 1) // fixed-blocksize strategy
      w.writeBits(0x6, 4) // blocksize: 8-bit value−1 at header tail
      w.writeBits(0x4, 4) // sample rate 8 kHz
      w.writeBits(0x0, 4) // mono
      w.writeBits(0x4, 3) // 16 bits/sample
      w.writeBits(0, 1) // reserved
      utf8FrameNumber(w, f.toLong)
      w.writeBits(BlockSize - 1, 8)
      w.writeBits(crc8(w.bytes, frameStart, w.lengthBytes), 8)
      val base = f * BlockSize
      var allEqual = true
      var k = base + 1
      while (k < base + BlockSize && allEqual) {
        if (samples(k) != samples(base)) allEqual = false
        k += 1
      }
      val mask = (1L << bps) - 1
      // order choice + residuals first, so the 4-bit Rice range can
      // force the VERBATIM escape (wideband noise at 16 bps needs p ≥ 15,
      // which method-00 Rice cannot code — real encoders escape too)
      val costs = Array.tabulate(3)(o => fixedCost(samples, base, o))
      val order =
        if (costs(0) <= costs(1) && costs(0) <= costs(2)) 0
        else if (costs(1) <= costs(2)) 1 else 2
      val nRes = BlockSize - order
      val res = new Array[Int](nRes)
      var sumZig = 0L
      var j = 0
      while (j < nRes) {
        val k3 = base + order + j
        res(j) = order match {
          case 0 => samples(k3)
          case 1 => samples(k3) - samples(k3 - 1)
          case _ => samples(k3) - 2 * samples(k3 - 1) + samples(k3 - 2)
        }
        sumZig += zigzag(res(j))
        j += 1
      }
      if (allEqual) {
        w.writeBits(0, 1); w.writeBits(0, 6); w.writeBits(0, 1) // CONSTANT
        w.writeBits(samples(base).toLong & mask, bps)
      } else if (forceVerbatim || sumZig > (nRes.toLong << 14)) {
        w.writeBits(0, 1); w.writeBits(1, 6); w.writeBits(0, 1) // VERBATIM
        var k2 = 0
        while (k2 < BlockSize) {
          w.writeBits(samples(base + k2).toLong & mask, bps); k2 += 1
        }
      } else {
        w.writeBits(0, 1); w.writeBits(8 | order, 6); w.writeBits(0, 1) // FIXED
        var k2 = 0
        while (k2 < order) {
          w.writeBits(samples(base + k2).toLong & mask, bps); k2 += 1
        }
        val p = riceParam(sumZig, nRes)
        w.writeBits(0, 2) // residual method: 4-bit Rice
        w.writeBits(0, 4) // partition order 0
        w.writeBits(p.toLong, 4)
        j = 0
        while (j < nRes) {
          val u = zigzag(res(j))
          w.writeUnary((u >>> p).toInt)
          if (p > 0) w.writeBits(u & ((1L << p) - 1), p)
          j += 1
        }
      }
      w.alignByte()
      w.writeBits(crc16(w.bytes, frameStart, w.lengthBytes), 16)
      f += 1
    }
    w.bytes
  }

  /** Per-frame decode record: subframe type (0 CONSTANT / 1 VERBATIM /
    * 2 FIXED), predictor order, Rice parameter, subframe bit count
    * (header + warmup + residual coding), and the frame's sample
    * aggregates — everything the oracle re-derives from the closed
    * form. */
  final case class FrameMeta(ptype: Int, order: Int, param: Int,
      subBits: Long, n: Int, sum: Long, min: Int, max: Int)

  /** Decode a mono FLAC payload: magic, metadata-block walk (STREAMINFO
    * required, PADDING et al. skipped), per-frame sync + CRC-8 + CRC-16
    * verification, CONSTANT/VERBATIM/FIXED(0–4) subframes, partitioned
    * Rice residuals. Returns (samples, per-frame metadata). */
  def decodeFlac(b: Array[Byte]): (Array[Int], Array[FrameMeta]) = {
    require(b.length > 4 && new String(b, 0, 4, US_ASCII) == "fLaC",
      "flac: bad magic")
    val r = new BitReader(b)
    r.seekByte(4)
    var last = false
    var bps = -1
    var total = -1L
    var blockSize = -1
    while (!last) {
      last = r.readBits(1) == 1L
      val btype = r.readBits(7).toInt
      val len = r.readBits(24).toInt
      if (btype == 0) {
        blockSize = { val mn = r.readBits(16).toInt; val mx = r.readBits(16).toInt
          require(mn == mx, "flac: variable blocksize unsupported"); mn }
        r.readBits(24); r.readBits(24)
        r.readBits(20) // sample rate
        require(r.readBits(3) == 0L, "flac: not mono")
        bps = r.readBits(5).toInt + 1
        total = r.readBits(36)
        var i = 0
        while (i < 4) { r.readBits(32); i += 1 }
      } else {
        require(btype != 127, "flac: invalid metadata block type")
        r.seekByte(r.bytePos + len)
      }
    }
    require(bps > 0 && total >= 0, "flac: missing STREAMINFO")
    val out = new Array[Int](total.toInt)
    val metas = scala.collection.mutable.ArrayBuffer.empty[FrameMeta]
    var n = 0
    while (n < total) {
      val frameStart = r.bytePos
      require(r.readBits(14) == 0x3ffe, "flac: lost frame sync")
      require(r.readBits(1) == 0L, "flac: reserved bit set")
      val strategy = r.readBits(1)
      val bsCode = r.readBits(4).toInt
      val srCode = r.readBits(4).toInt
      require(r.readBits(4) == 0L, "flac: not mono")
      val ssCode = r.readBits(3).toInt
      require(r.readBits(1) == 0L, "flac: reserved bit set")
      val frameNo = readUtf8Number(r)
      require(strategy == 0L && frameNo == metas.length.toLong,
        s"flac: frame number $frameNo out of order")
      val bs = bsCode match {
        case 0x6 => r.readBits(8).toInt + 1
        case 0x7 => r.readBits(16).toInt + 1
        case 0x1 => 192
        case c if c >= 2 && c <= 5 => 576 << (c - 2)
        case c if c >= 8 => 256 << (c - 8)
        case _ => throw new IllegalArgumentException(s"flac: blocksize code $bsCode")
      }
      require(bs == blockSize, s"flac: frame blocksize $bs vs STREAMINFO")
      srCode match {
        case 0xc => r.readBits(8)
        case 0xd | 0xe => r.readBits(16)
        case 0xf => throw new IllegalArgumentException("flac: invalid rate code")
        case _ => ()
      }
      val fbps = ssCode match {
        case 0x1 => 8; case 0x2 => 12; case 0x4 => 16; case 0x5 => 20
        case 0x6 => 24; case 0x7 => 32
        case _ => bps
      }
      require(fbps == bps, s"flac: frame bps $fbps vs STREAMINFO $bps")
      val headerEnd = r.bytePos
      val wantCrc8 = r.readBits(8).toInt
      require(wantCrc8 == crc8(b, frameStart, headerEnd),
        "flac: frame header CRC-8 mismatch")
      // subframe (mono → exactly one)
      val subStart = r.bitPos
      require(r.readBits(1) == 0L, "flac: subframe padding bit set")
      val stype = r.readBits(6).toInt
      require(r.readBits(1) == 0L, "flac: wasted bits unsupported")
      def signed(width: Int): Int = {
        val v = r.readBits(width)
        (if ((v & (1L << (width - 1))) != 0) v - (1L << width) else v).toInt
      }
      val take = math.min(bs.toLong, total - n).toInt
      var ptype = -1
      var order = 0
      var param = 0
      val frame = new Array[Int](bs)
      if (stype == 0) { // CONSTANT
        ptype = 0
        val v = signed(bps)
        java.util.Arrays.fill(frame, v)
      } else if (stype == 1) { // VERBATIM
        ptype = 1
        var k = 0
        while (k < bs) { frame(k) = signed(bps); k += 1 }
      } else if ((stype & 0x38) == 8) { // FIXED, order in low bits
        ptype = 2
        order = stype & 0x7
        require(order <= 4, s"flac: fixed order $order")
        var k = 0
        while (k < order) { frame(k) = signed(bps); k += 1 }
        require(r.readBits(2) == 0L, "flac: only 4-bit Rice supported")
        val po = r.readBits(4).toInt
        val nParts = 1 << po
        require(bs % nParts == 0, "flac: partition does not divide blocksize")
        var part = 0
        var k2 = order
        while (part < nParts) {
          val pParam = r.readBits(4).toInt
          require(pParam != 15, "flac: Rice escape unsupported")
          if (part == 0) param = pParam
          val cnt = bs / nParts - (if (part == 0) order else 0)
          var j = 0
          while (j < cnt) {
            val q = r.readUnary()
            val rem = if (pParam > 0) r.readBits(pParam) else 0L
            val res = unZigzag((q.toLong << pParam) | rem)
            frame(k2) = order match {
              case 0 => res
              case 1 => res + frame(k2 - 1)
              case 2 => res + 2 * frame(k2 - 1) - frame(k2 - 2)
              case 3 => res + 3 * frame(k2 - 1) - 3 * frame(k2 - 2) + frame(k2 - 3)
              case _ => res + 4 * frame(k2 - 1) - 6 * frame(k2 - 2) +
                4 * frame(k2 - 3) - frame(k2 - 4)
            }
            k2 += 1
            j += 1
          }
          part += 1
        }
      } else throw new IllegalArgumentException(s"flac: subframe type $stype")
      val subBits = r.bitPos - subStart
      if (r.bitPos % 8 != 0) {
        val pad = 8 - (r.bitPos % 8).toInt
        require(r.readBits(pad) == 0L, "flac: nonzero frame padding")
      }
      val frameEnd = r.bytePos
      val wantCrc16 = r.readBits(16).toInt
      require(wantCrc16 == crc16(b, frameStart, frameEnd),
        "flac: frame CRC-16 mismatch")
      var sum = 0L
      var mn = frame(0)
      var mx = frame(0)
      var k = 0
      while (k < take) {
        val v = frame(k)
        out(n + k) = v
        sum += v
        if (v < mn) mn = v
        if (v > mx) mx = v
        k += 1
      }
      metas += FrameMeta(ptype, order, param, subBits, take, sum, mn, mx)
      n += take
    }
    (out, metas.toArray)
  }

  /** Static forwarder: text → FLAC payload over [[flacTextSamples]]. */
  def encodeFromText(text: UTF8String, n: Int): Array[Byte] =
    encodeFlac(flacTextSamples(text.toString, n))

  /** Static forwarder for codegen: payload → decoded samples. */
  def decodeSamplesArray(bytes: Array[Byte]): ArrayData = {
    val s = decodeFlac(bytes)._1
    val out = new Array[Any](s.length)
    var i = 0
    while (i < s.length) { out(i) = Int.box(s(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** Static forwarder for codegen: payload → per-frame metadata rows. */
  def frameStatsArray(bytes: Array[Byte]): ArrayData = {
    val metas = decodeFlac(bytes)._2
    new GenericArrayData(metas.map(m => InternalRow(
      m.ptype, m.order, m.param, m.subBits, m.n, m.sum, m.min, m.max)
      .asInstanceOf[Any]))
  }

  val frameStatsSchema: StructType = StructType(Seq(
    StructField("ptype", IntegerType, nullable = false),
    StructField("order", IntegerType, nullable = false),
    StructField("param", IntegerType, nullable = false),
    StructField("sub_bits", LongType, nullable = false),
    StructField("n", IntegerType, nullable = false),
    StructField("s_sum", LongType, nullable = false),
    StructField("s_min", IntegerType, nullable = false),
    StructField("s_max", IntegerType, nullable = false)))
}

/** Column-API face for the FLAC codec. */
object FlacExprs {
  /** Text → FLAC payload over the ramp+wobble fixture. */
  def encodeFlacFromText(text: Column, n: Int): Column =
    Native.call("encode_flac_from_text", FlacCodec, "encodeFromText",
      BinaryType, Seq(n))(text)

  /** FLAC payload → decoded PCM samples as array<int>. */
  def decodeSamples(payload: Column): Column =
    Native.call("decode_flac_samples", FlacCodec, "decodeSamplesArray",
      ArrayType(IntegerType, containsNull = false))(payload)

  /** FLAC payload → per-frame decode metadata (type/order/param/bits +
    * sample aggregates). */
  def frameStats(payload: Column): Column =
    Native.call("flac_frame_stats", FlacCodec, "frameStatsArray",
      ArrayType(FlacCodec.frameStatsSchema, containsNull = false))(payload)
}
