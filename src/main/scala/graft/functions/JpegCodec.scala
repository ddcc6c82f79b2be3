package graft.functions

import graft.functions.ImageCodec.DecodedImage

/** Pure-JVM baseline + progressive JPEG (JFIF) codec — the first LOSSY
  * compressed format in the media family, zero native dependencies.
  * Everything here is public spec: ITU-T T.81 / ISO 10918-1 (marker
  * syntax, Huffman entropy coding per Annexes C/F, progressive
  * spectral-selection + successive-approximation procedures per Annex G,
  * the Annex K example quantization and Huffman tables) and the JFIF
  * 1.02 container note. The inverse DCT is the
  * Loeffler–Ligtenberg–Moshovitz 1989 fixed-point factorization (the
  * same published algorithm the IJG "islow" path implements), chosen so
  * every decode step is EXACT INTEGER math a SQL oracle can replay:
  *
  *  - markers: SOI, APP0 (JFIF), DQT, SOF0/1 (sequential, 8-bit) and
  *    SOF2 (progressive: multi-scan DC/AC first + refinement with EOB
  *    runs), DHT, DRI/RSTn, SOS, EOI; APPn/COM skipped; every other
  *    frame type is a LOUD error, never garbage;
  *  - entropy: canonical Huffman from BITS/HUFFVAL (Annex C code
  *    construction, Annex F DECODE procedure), DC diff categories, AC
  *    run/size with ZRL and EOB, 0xFF00 byte stuffing both directions;
  *  - sampling: grayscale and 3-component YCbCr, 4:4:4 or 4:2:0 (2×2
  *    chroma average on encode, replication upsampling on decode);
  *  - color: RGB↔YCbCr in 16-bit fixed point with FLOOR-division
  *    semantics (`Math.floorDiv`, = arithmetic shift), constants
  *    round(x·65536) from the CCIR 601 matrix — spelled identically in
  *    the m42/m43 oracles;
  *  - quantization: Annex K tables scaled by the libjpeg-convention
  *    quality knob (quality 50 = tables verbatim, which is what the
  *    oracle-gated fixtures use); coefficient quantization is
  *    sign(c)·((|c|+q/2) div q) — half-up on magnitudes, replayable with
  *    non-negative integer division only.
  *
  * The oracle strategy mirrors PngCodec/WAV (m41): gate fixtures are
  * BLOCK-CONSTANT rasters, for which the whole encode→decode chain
  * collapses to closed form — a constant-v block has F(0,0) = 8·(v−128)
  * and zero AC exactly, and the LLM IDCT of a DC-only block is uniformly
  * `floor((dq+4)/8)+128` — while the bitstream in between is a real JFIF
  * file (markers, Huffman DC categories, EOB runs, byte stuffing). The
  * spec suite then covers the general AC path by cross-decoding against
  * the JDK's independent ImageIO JPEG codec in both directions.
  *
  * This shrinks the labeled `StubMediaCodec` seam
  * (operators/Multimodal.scala) to genuinely-heavy codecs (H.264/MP3).
  *
  * Reference scope: the reference pipeline has no media path at all
  * (/root/reference/tools.py is CSV/JSON/SQL only); beyond-reference
  * LLM-pipeline surface per the build brief.
  */
object JpegCodec {

  /** True iff the payload starts with the SOI marker (FFD8) followed by
    * another marker byte — the JPEG magic. */
  def sniff(b: Array[Byte]): Boolean =
    b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 &&
      (b(2) & 0xff) == 0xff

  // ── tables (ITU-T T.81 Annex K — public spec) ───────────────────────────

  /** Zigzag position → natural (row-major) index. */
  private[functions] val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** Annex K.1 luminance quantization table (natural order). */
  private val QLumBase: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  /** Annex K.2 chrominance quantization table (natural order). */
  private val QChromBase: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  /** Quality 1–100 → scaled table, the libjpeg convention: quality 50
    * keeps the Annex K table verbatim (scale 100), values clamped to
    * [1, 255] so 8-bit DQT precision always suffices. */
  private[functions] def scaledTable(base: Array[Int], quality: Int): Array[Int] = {
    require(quality >= 1 && quality <= 100, s"jpeg: quality $quality")
    val scale = if (quality < 50) 5000 / quality else 200 - quality * 2
    base.map { q =>
      val v = (q * scale + 50) / 100
      math.max(1, math.min(255, v))
    }
  }

  /** Scaled Annex K luminance DC quantizer at `quality` — the one knob
    * the m44 quality-sweep oracle re-derives (same formula in SQL). */
  def scaledLuminanceDc(quality: Int): Int = scaledTable(QLumBase, quality)(0)

  /** Annex K Huffman specs: (BITS[1..16], HUFFVAL). The counts are
    * self-validated at class init. */
  private val DcLumBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumVals = (0 to 11).toArray
  private val DcChromBits = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChromVals = (0 to 11).toArray
  private val AcLumBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumVals = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)
  private val AcChromBits = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChromVals = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0,
    0x15, 0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34,
    0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3,
    0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2,
    0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9,
    0xea, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)
  Seq((DcLumBits, DcLumVals), (DcChromBits, DcChromVals),
    (AcLumBits, AcLumVals), (AcChromBits, AcChromVals)).foreach {
    case (bits, vals) => require(bits.sum == vals.length,
      s"jpeg: Annex K table mismatch (${bits.sum} codes, ${vals.length} values)")
  }

  // ── canonical Huffman (Annex C construction) ────────────────────────────

  /** symbol → (code, size) map from BITS/HUFFVAL. */
  private def buildEncodeTable(bits: Array[Int],
      vals: Array[Int]): Array[(Int, Int)] = {
    val table = new Array[(Int, Int)](256)
    var code = 0; var k = 0
    var l = 1
    while (l <= 16) {
      var i = 0
      while (i < bits(l - 1)) {
        table(vals(k)) = (code, l)
        code += 1; k += 1; i += 1
      }
      code <<= 1
      l += 1
    }
    table
  }

  /** Decode-side table per Annex F.2.2.3: mincode/maxcode/valptr. */
  private[functions] final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    require(bits.length == 16 && bits.sum == vals.length &&
      bits.sum <= 256, "jpeg: malformed DHT")
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    val huffVal: Array[Int] = vals
    locally {
      var code = 0; var k = 0
      var l = 1
      while (l <= 16) {
        if (bits(l - 1) > 0) {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l - 1); k += bits(l - 1)
          maxCode(l) = code - 1
        } else maxCode(l) = -1
        code <<= 1
        l += 1
      }
      require(code <= (1 << 17), "jpeg: oversubscribed Huffman table")
    }
  }

  // ── bit I/O with 0xFF00 stuffing ────────────────────────────────────────

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var buf = 0
    private var cnt = 0
    def put(code: Int, size: Int): Unit = {
      var s = size - 1
      while (s >= 0) {
        buf = (buf << 1) | ((code >> s) & 1)
        cnt += 1
        if (cnt == 8) {
          out.write(buf & 0xff)
          if ((buf & 0xff) == 0xff) out.write(0x00) // byte stuffing
          buf = 0; cnt = 0
        }
        s -= 1
      }
    }
    /** Pad the final partial byte with 1-bits (spec fill bits). */
    def flush(): Unit = if (cnt > 0) put(0xff, 8 - cnt)
  }

  private[functions] final class BitReader(b: Array[Byte], var pos: Int) {
    private var buf = 0
    private var cnt = 0
    def readBit(): Int = {
      if (cnt == 0) {
        require(pos < b.length, "jpeg: entropy stream truncated")
        var v = b(pos) & 0xff; pos += 1
        if (v == 0xff) {
          require(pos < b.length, "jpeg: truncated after 0xFF")
          val nxt = b(pos) & 0xff
          require(nxt == 0x00,
            f"jpeg: unexpected marker 0xFF$nxt%02X inside entropy data")
          pos += 1 // stuffed zero: the data byte is a literal 0xFF
        }
        buf = v; cnt = 8
      }
      cnt -= 1
      (buf >> cnt) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def decodeHuff(t: HuffTable): Int = {
      var code = readBit()
      var l = 1
      while (code > t.maxCode(l)) {
        require(l < 16, "jpeg: invalid Huffman code in entropy stream")
        code = (code << 1) | readBit()
        l += 1
      }
      t.huffVal(t.valPtr(l) + code - t.minCode(l))
    }
    /** Byte-align and scan forward to the next true marker (skipping
      * stuffed 0xFF00 data bytes and stray RSTn), returning its 0xFF
      * offset — how a multi-scan (progressive) parse resumes the marker
      * walk after a scan's entropy segment. */
    def endOfScan(): Int = {
      cnt = 0
      var p = pos
      while (p + 1 < b.length) {
        if ((b(p) & 0xff) == 0xff) {
          val nxt = b(p + 1) & 0xff
          if (nxt == 0x00) p += 2 // stuffed literal 0xFF data byte
          else if (nxt >= 0xd0 && nxt <= 0xd7) p += 2 // trailing restart
          else return p
        } else p += 1
      }
      b.length
    }
    /** Byte-align and consume an expected RSTn marker (n = 0..7). */
    def expectRestart(n: Int): Unit = {
      cnt = 0
      require(pos + 1 < b.length && (b(pos) & 0xff) == 0xff &&
        (b(pos + 1) & 0xff) == (0xd0 + n),
        s"jpeg: expected RST$n at byte $pos")
      pos += 2
    }
  }

  /** Annex F.2.2.1 EXTEND: map an n-bit magnitude to its signed value. */
  private def extend(v: Int, n: Int): Int =
    if (n == 0) 0 else if (v < (1 << (n - 1))) v - (1 << n) + 1 else v

  /** DC/AC category: number of magnitude bits of |v|. */
  private def category(v: Int): Int =
    32 - Integer.numberOfLeadingZeros(math.abs(v))

  // ── fixed-point color transforms (floor-division semantics) ─────────────
  // Constants are round(x · 65536) from the CCIR 601 matrix; the −1 on the
  // Cb/Cr rounding constant keeps max-input results ≤ 255 without a clamp
  // (0.5·255 + 128 would otherwise round up to 256). Math.floorDiv ≡
  // arithmetic shift ≡ SQL FLOOR(x / 65536.0) — the m43 oracle spells the
  // identical integers.

  private[functions] def rgbToY(r: Int, g: Int, b: Int): Int =
    Math.floorDiv(19595 * r + 38470 * g + 7471 * b + 32768, 65536)
  private[functions] def rgbToCb(r: Int, g: Int, b: Int): Int =
    Math.floorDiv(-11059 * r - 21709 * g + 32768 * b + 8388608 + 32767, 65536)
  private[functions] def rgbToCr(r: Int, g: Int, b: Int): Int =
    Math.floorDiv(32768 * r - 27439 * g - 5329 * b + 8388608 + 32767, 65536)

  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private[functions] def yccToR(y: Int, cr: Int): Int =
    clamp255(y + Math.floorDiv(91881 * (cr - 128) + 32768, 65536))
  private[functions] def yccToG(y: Int, cb: Int, cr: Int): Int =
    clamp255(y + Math.floorDiv(-22554 * (cb - 128) - 46802 * (cr - 128) + 32768, 65536))
  private[functions] def yccToB(y: Int, cb: Int): Int =
    clamp255(y + Math.floorDiv(116130 * (cb - 128) + 32768, 65536))

  // ── forward DCT + quantization (encoder) ────────────────────────────────

  private val CosTable: Array[Array[Double]] = Array.tabulate(8, 8) {
    (u, x) => math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }
  private val C: Array[Double] =
    Array.tabulate(8)(u => if (u == 0) 1.0 / math.sqrt(2.0) else 1.0)

  /** True-scale FDCT of one level-shifted 8×8 block (row-major), rounded
    * to integers. For a constant block this yields F(0,0) = 8·(v−128)
    * exactly and zero AC — the property the closed-form oracle relies on
    * (the cosine sums for u>0 cancel to ~1e−13, far below rounding). */
  private def fdct(block: Array[Int]): Array[Int] = {
    val out = new Array[Int](64)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var sum = 0.0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            sum += block(y * 8 + x) * CosTable(u)(x) * CosTable(v)(y)
            x += 1
          }
          y += 1
        }
        out(v * 8 + u) = math.round(0.25 * C(u) * C(v) * sum).toInt
        u += 1
      }
      v += 1
    }
    out
  }

  /** Half-up-on-magnitude quantization: sign(c)·((|c|+q/2) div q) —
    * non-negative integer division only, so the oracle replays it with
    * plain `//`. */
  private[functions] def quantize(c: Int, q: Int): Int =
    if (c >= 0) (c + q / 2) / q else -((-c + q / 2) / q)

  // ── inverse DCT (Loeffler–Ligtenberg–Moshovitz fixed point) ─────────────
  // 13-bit constants round(x·8192); DESCALE(x,n) = (x + 2^(n−1)) >> n.
  // For a DC-only block the whole transform collapses to
  // out = ((dq + 4) >> 3) + 128 — the closed form the m42/m43 oracles
  // replay with FLOOR((dq+4)/8.0) + 128.

  private val ConstBits = 13
  private val Pass1Bits = 2
  private val F0_298631336 = 2446L
  private val F0_390180644 = 3196L
  private val F0_541196100 = 4433L
  private val F0_765366865 = 6270L
  private val F0_899976223 = 7373L
  private val F1_175875602 = 9633L
  private val F1_501321110 = 12299L
  private val F1_847759065 = 15137L
  private val F1_961570560 = 16069L
  private val F2_053119869 = 16819L
  private val F2_562915447 = 20995L
  private val F3_072711026 = 25172L

  private def descale(x: Long, n: Int): Long = (x + (1L << (n - 1))) >> n

  /** In-place IDCT of one dequantized block; output = clamped samples
    * 0..255 (level shift applied). */
  private[functions] def idct(coef: Array[Int]): Array[Int] = {
    val ws = new Array[Long](64)
    // pass 1: columns, output scaled up by 2^Pass1Bits
    var c = 0
    while (c < 8) {
      val s0 = coef(c).toLong;      val s1 = coef(8 + c).toLong
      val s2 = coef(16 + c).toLong; val s3 = coef(24 + c).toLong
      val s4 = coef(32 + c).toLong; val s5 = coef(40 + c).toLong
      val s6 = coef(48 + c).toLong; val s7 = coef(56 + c).toLong
      if ((s1 | s2 | s3 | s4 | s5 | s6 | s7) == 0) {
        val dc = s0 << Pass1Bits
        var r = 0
        while (r < 8) { ws(r * 8 + c) = dc; r += 1 }
      } else {
        // even part
        val z2e = s2; val z3e = s6
        val z1e = (z2e + z3e) * F0_541196100
        val t2 = z1e - z3e * F1_847759065
        val t3 = z1e + z2e * F0_765366865
        val t0 = (s0 + s4) << ConstBits
        val t1 = (s0 - s4) << ConstBits
        val t10 = t0 + t3; val t13 = t0 - t3
        val t11 = t1 + t2; val t12 = t1 - t2
        // odd part
        var o0 = s7; var o1 = s5; var o2 = s3; var o3 = s1
        var z1 = o0 + o3; var z2 = o1 + o2
        var z3 = o0 + o2; var z4 = o1 + o3
        val z5 = (z3 + z4) * F1_175875602
        o0 *= F0_298631336; o1 *= F2_053119869
        o2 *= F3_072711026; o3 *= F1_501321110
        z1 *= -F0_899976223; z2 *= -F2_562915447
        z3 = z3 * -F1_961570560 + z5
        z4 = z4 * -F0_390180644 + z5
        o0 += z1 + z3; o1 += z2 + z4; o2 += z2 + z3; o3 += z1 + z4
        val sh = ConstBits - Pass1Bits
        ws(c) = descale(t10 + o3, sh);      ws(56 + c) = descale(t10 - o3, sh)
        ws(8 + c) = descale(t11 + o2, sh);  ws(48 + c) = descale(t11 - o2, sh)
        ws(16 + c) = descale(t12 + o1, sh); ws(40 + c) = descale(t12 - o1, sh)
        ws(24 + c) = descale(t13 + o0, sh); ws(32 + c) = descale(t13 - o0, sh)
      }
      c += 1
    }
    // pass 2: rows, final descale by ConstBits+Pass1Bits+3, level shift
    val out = new Array[Int](64)
    val shf = ConstBits + Pass1Bits + 3
    var r = 0
    while (r < 8) {
      val o = r * 8
      val s0 = ws(o); val s1 = ws(o + 1); val s2 = ws(o + 2); val s3 = ws(o + 3)
      val s4 = ws(o + 4); val s5 = ws(o + 5); val s6 = ws(o + 6); val s7 = ws(o + 7)
      val z2e = s2; val z3e = s6
      val z1e = (z2e + z3e) * F0_541196100
      val t2 = z1e - z3e * F1_847759065
      val t3 = z1e + z2e * F0_765366865
      val t0 = (s0 + s4) << ConstBits
      val t1 = (s0 - s4) << ConstBits
      val t10 = t0 + t3; val t13 = t0 - t3
      val t11 = t1 + t2; val t12 = t1 - t2
      var o0 = s7; var o1 = s5; var o2 = s3; var o3 = s1
      var z1 = o0 + o3; var z2 = o1 + o2
      var z3 = o0 + o2; var z4 = o1 + o3
      val z5 = (z3 + z4) * F1_175875602
      o0 *= F0_298631336; o1 *= F2_053119869
      o2 *= F3_072711026; o3 *= F1_501321110
      z1 *= -F0_899976223; z2 *= -F2_562915447
      z3 = z3 * -F1_961570560 + z5
      z4 = z4 * -F0_390180644 + z5
      o0 += z1 + z3; o1 += z2 + z4; o2 += z2 + z3; o3 += z1 + z4
      out(o) = clamp255(descale(t10 + o3, shf).toInt + 128)
      out(o + 7) = clamp255(descale(t10 - o3, shf).toInt + 128)
      out(o + 1) = clamp255(descale(t11 + o2, shf).toInt + 128)
      out(o + 6) = clamp255(descale(t11 - o2, shf).toInt + 128)
      out(o + 2) = clamp255(descale(t12 + o1, shf).toInt + 128)
      out(o + 5) = clamp255(descale(t12 - o1, shf).toInt + 128)
      out(o + 3) = clamp255(descale(t13 + o0, shf).toInt + 128)
      out(o + 4) = clamp255(descale(t13 - o0, shf).toInt + 128)
      r += 1
    }
    out
  }

  // ── encoder ─────────────────────────────────────────────────────────────

  private def u16be(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >> 8) & 0xff); out.write(v & 0xff)
  }

  private def marker(out: java.io.ByteArrayOutputStream, m: Int): Unit = {
    out.write(0xff); out.write(m)
  }

  private def segment(out: java.io.ByteArrayOutputStream, m: Int,
      payload: Array[Byte]): Unit = {
    marker(out, m)
    u16be(out, payload.length + 2)
    out.write(payload, 0, payload.length)
  }

  /** One component plane plus its sampling factors. */
  private final case class Plane(w: Int, h: Int, hs: Int, vs: Int,
      samples: Array[Int])

  /** Pad a plane to MCU-multiple dims by edge replication. */
  private def padPlane(p: Plane, blocksW: Int, blocksH: Int): Plane = {
    val pw = blocksW * 8; val ph = blocksH * 8
    if (pw == p.w && ph == p.h) p
    else {
      val out = new Array[Int](pw * ph)
      var y = 0
      while (y < ph) {
        val sy = math.min(y, p.h - 1)
        var x = 0
        while (x < pw) {
          out(y * pw + x) = p.samples(sy * p.w + math.min(x, p.w - 1))
          x += 1
        }
        y += 1
      }
      Plane(pw, ph, p.hs, p.vs, out)
    }
  }

  /** fDCT + quantize one 8×8 block of a (padded) plane; zigzag order. */
  private def quantizedBlock(p: Plane, bx: Int, by: Int,
      q: Array[Int]): Array[Int] = {
    val blk = new Array[Int](64)
    var yy = 0
    while (yy < 8) {
      var xx = 0
      while (xx < 8) {
        blk(yy * 8 + xx) = p.samples((by * 8 + yy) * p.w + bx * 8 + xx) - 128
        xx += 1
      }
      yy += 1
    }
    val coef = fdct(blk)
    val zq = new Array[Int](64)
    var k = 0
    while (k < 64) {
      zq(k) = quantize(coef(ZigZag(k)), q(ZigZag(k)))
      k += 1
    }
    zq
  }

  /** Progressive (SOF2) scan script over precomputed coefficients — T.81
    * Annex G procedures, encoder side. Scans: (1) interleaved DC first,
    * Al=1; (2) per component, AC first over 1..63, Al=1; (3) interleaved
    * DC refinement to Al=0; (4) per component, AC refinement to Al=0.
    * Exercises all four entropy procedures a progressive decoder needs
    * (DC first / DC refine / AC first with EOB / AC refine with
    * correction bits). Interleaved scans walk MCU-padded block dims;
    * non-interleaved AC scans walk the component's own ceil(w/8)×
    * ceil(h/8) grid per G.1 — the padded grid's extra dummy blocks
    * belong to interleaved scans only. */
  private def writeProgressiveScans(out: java.io.ByteArrayOutputStream,
      padded: Array[Plane], channels: Int,
      qLum: Array[Int], qChrom: Array[Int],
      width: Int, height: Int, hMax: Int, vMax: Int,
      mcusX: Int, mcusY: Int,
      dcLumEnc: Array[(Int, Int)], dcChromEnc: Array[(Int, Int)],
      acLumEnc: Array[(Int, Int)], acChromEnc: Array[(Int, Int)]): Unit = {
    // precompute all quantized blocks: comp -> (by * padBW + bx) -> zigzag
    val padBW = new Array[Int](channels); val padBH = new Array[Int](channels)
    val coefs = new Array[Array[Array[Int]]](channels)
    var c = 0
    while (c < channels) {
      val p = padded(c)
      padBW(c) = p.w / 8; padBH(c) = p.h / 8
      val q = if (c == 0) qLum else qChrom
      coefs(c) = Array.tabulate(padBW(c) * padBH(c))(i =>
        quantizedBlock(p, i % padBW(c), i / padBW(c), q))
      c += 1
    }
    // non-interleaved (per-component) block dims per T.81 A.2.2
    def niBW(c: Int): Int =
      ((width * padded(c).hs + hMax - 1) / hMax + 7) / 8
    def niBH(c: Int): Int =
      ((height * padded(c).vs + vMax - 1) / vMax + 7) / 8

    def sosHeader(comps: Seq[Int], ss: Int, se: Int, ah: Int, al: Int,
        ac: Boolean): Unit = {
      val sos = new java.io.ByteArrayOutputStream()
      sos.write(comps.length)
      comps.foreach { c =>
        sos.write(c + 1)
        val tid = if (c == 0) 0 else 1
        sos.write(if (ac) tid else tid << 4)
      }
      sos.write(ss); sos.write(se); sos.write((ah << 4) | al)
      segment(out, 0xda, sos.toByteArray)
    }

    // ── scan 1: DC first, all components interleaved, Al=1 ──────────────
    locally {
      sosHeader(0 until channels, 0, 0, 0, 1, ac = false)
      val bw = new BitWriter(out)
      val pred = new Array[Int](channels)
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          var c = 0
          while (c < channels) {
            val hs = padded(c).hs; val vs = padded(c).vs
            var blk = 0
            while (blk < hs * vs) {
              val bx = mx * hs + blk % hs; val by = my * vs + blk / hs
              val dc = coefs(c)(by * padBW(c) + bx)(0) >> 1 // point transform
              val diff = dc - pred(c)
              pred(c) = dc
              val t = category(diff)
              val (code, size) = (if (c == 0) dcLumEnc else dcChromEnc)(t)
              bw.put(code, size)
              if (t > 0)
                bw.put(if (diff < 0) diff + (1 << t) - 1 else diff, t)
              blk += 1
            }
            c += 1
          }
          mx += 1
        }
        my += 1
      }
      bw.flush()
    }
    // ── scans 2..: AC first per component, band 1..63, Al=1 ─────────────
    var sc = 0
    while (sc < channels) {
      sosHeader(Seq(sc), 1, 63, 0, 1, ac = true)
      val bw = new BitWriter(out)
      val acT = if (sc == 0) acLumEnc else acChromEnc
      val bwN = niBW(sc); val bhN = niBH(sc)
      var bi = 0
      while (bi < bwN * bhN) {
        val zq = coefs(sc)((bi / bwN) * padBW(sc) + bi % bwN)
        var run = 0
        var k = 1
        while (k <= 63) {
          val t = math.abs(zq(k)) >> 1 // magnitude point transform
          if (t == 0) run += 1
          else {
            while (run > 15) {
              val (zc, zs) = acT(0xf0); bw.put(zc, zs); run -= 16
            }
            val sz = category(t)
            val v = if (zq(k) < 0) -t else t
            val (code, size) = acT((run << 4) | sz)
            bw.put(code, size)
            bw.put(if (v < 0) v + (1 << sz) - 1 else v, sz)
            run = 0
          }
          k += 1
        }
        if (run > 0) { val (ec, es) = acT(0x00); bw.put(ec, es) } // EOB
        bi += 1
      }
      bw.flush()
      sc += 1
    }
    // ── DC refinement, all components interleaved, Ah=1 → Al=0 ──────────
    locally {
      sosHeader(0 until channels, 0, 0, 1, 0, ac = false)
      val bw = new BitWriter(out)
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          var c = 0
          while (c < channels) {
            val hs = padded(c).hs; val vs = padded(c).vs
            var blk = 0
            while (blk < hs * vs) {
              val bx = mx * hs + blk % hs; val by = my * vs + blk / hs
              bw.put(coefs(c)(by * padBW(c) + bx)(0) & 1, 1)
              blk += 1
            }
            c += 1
          }
          mx += 1
        }
        my += 1
      }
      bw.flush()
    }
    // ── AC refinement per component, Ah=1 → Al=0 ─────────────────────────
    sc = 0
    while (sc < channels) {
      sosHeader(Seq(sc), 1, 63, 1, 0, ac = true)
      val bw = new BitWriter(out)
      val acT = if (sc == 0) acLumEnc else acChromEnc
      val bwN = niBW(sc); val bhN = niBH(sc)
      val pending = new scala.collection.mutable.ArrayBuffer[Int]()
      def flushPending(): Unit = {
        pending.foreach(bit => bw.put(bit, 1)); pending.clear()
      }
      var bi = 0
      while (bi < bwN * bhN) {
        val zq = coefs(sc)((bi / bwN) * padBW(sc) + bi % bwN)
        var run = 0
        var k = 1
        while (k <= 63) {
          val a = math.abs(zq(k))
          if (a == 0) run += 1
          else {
            // drain ZRLs at EVERY nonzero (T.81 G.1.2.3): the decoder's
            // ZRL advance consumes exactly 16 zero-HISTORY positions,
            // reading correction bits only for nonzeros interleaved
            // within that span — so pending bits must be flushed at the
            // span boundary, not accumulated across it.
            while (run > 15) {
              val (zc, zs) = acT(0xf0); bw.put(zc, zs); flushPending()
              run -= 16
            }
            if ((a >> 1) != 0) pending += (a & 1) // already-nonzero: correction
            else { // newly visible at this Al: |coef| == 1
              val (code, size) = acT((run << 4) | 1)
              bw.put(code, size)
              bw.put(if (zq(k) > 0) 1 else 0, 1) // sign
              flushPending()
              run = 0
            }
          }
          k += 1
        }
        if (run > 0 || pending.nonEmpty) {
          val (ec, es) = acT(0x00); bw.put(ec, es) // EOB (run length 1)
          flushPending()
        }
        bi += 1
      }
      bw.flush()
      sc += 1
    }
  }

  /** Encode a top-down interleaved raster (gray if channels=1, RGB if 3)
    * as baseline JFIF. `subsample420` applies 4:2:0 chroma subsampling
    * (2×2 average, (a+b+c+d+2) div 4); ignored for grayscale.
    *
    * `progressive` writes an SOF2 stream instead (T.81 Annex G): the SAME
    * quantized coefficients reordered into a spec-shaped scan script —
    * interleaved DC-first (Al=1), per-component AC-first over the full
    * 1..63 band (Al=1), interleaved DC refinement, per-component AC
    * refinement — so a conforming decoder reconstructs pixels IDENTICAL
    * to the baseline stream's (progressive is a lossless reordering).
    * EOB runs are capped at 1 because the Annex K tables carry no EOBn
    * (n>0) symbols; longer runs are a compression nicety, not a
    * conformance requirement. */
  def encodeJpeg(width: Int, height: Int, channels: Int,
      samples: Array[Byte], quality: Int,
      subsample420: Boolean = false,
      progressive: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0, s"jpeg: bad dims ${width}x$height")
    require(channels == 1 || channels == 3, s"jpeg: channels=$channels")
    require(samples.length == width * height * channels,
      s"jpeg: raster is ${samples.length} bytes, want ${width * height * channels}")
    val qLum = scaledTable(QLumBase, quality)
    val qChrom = scaledTable(QChromBase, quality)

    // component planes
    val planes: Array[Plane] =
      if (channels == 1) {
        val g = new Array[Int](width * height)
        var i = 0
        while (i < g.length) { g(i) = samples(i) & 0xff; i += 1 }
        Array(Plane(width, height, 1, 1, g))
      } else {
        val n = width * height
        val yP = new Array[Int](n); val cbF = new Array[Int](n)
        val crF = new Array[Int](n)
        var i = 0
        while (i < n) {
          val r = samples(3 * i) & 0xff
          val g = samples(3 * i + 1) & 0xff
          val b = samples(3 * i + 2) & 0xff
          yP(i) = rgbToY(r, g, b)
          cbF(i) = rgbToCb(r, g, b)
          crF(i) = rgbToCr(r, g, b)
          i += 1
        }
        if (!subsample420)
          Array(Plane(width, height, 1, 1, yP),
            Plane(width, height, 1, 1, cbF),
            Plane(width, height, 1, 1, crF))
        else {
          val cw = (width + 1) / 2; val ch = (height + 1) / 2
          def sub(full: Array[Int]): Array[Int] = {
            val out = new Array[Int](cw * ch)
            var yy = 0
            while (yy < ch) {
              var xx = 0
              while (xx < cw) {
                val x0 = 2 * xx; val y0 = 2 * yy
                val x1 = math.min(x0 + 1, width - 1)
                val y1 = math.min(y0 + 1, height - 1)
                out(yy * cw + xx) = (full(y0 * width + x0) +
                  full(y0 * width + x1) + full(y1 * width + x0) +
                  full(y1 * width + x1) + 2) / 4
                xx += 1
              }
              yy += 1
            }
            out
          }
          Array(Plane(width, height, 2, 2, yP),
            Plane(cw, ch, 1, 1, sub(cbF)), Plane(cw, ch, 1, 1, sub(crF)))
        }
      }
    val hMax = planes.map(_.hs).max
    val vMax = planes.map(_.vs).max
    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
    val padded = planes.map(p => padPlane(p, mcusX * p.hs, mcusY * p.vs))

    // entropy tables
    val dcLumEnc = buildEncodeTable(DcLumBits, DcLumVals)
    val acLumEnc = buildEncodeTable(AcLumBits, AcLumVals)
    val dcChromEnc = buildEncodeTable(DcChromBits, DcChromVals)
    val acChromEnc = buildEncodeTable(AcChromBits, AcChromVals)

    val out = new java.io.ByteArrayOutputStream()
    marker(out, 0xd8) // SOI
    // APP0: JFIF 1.1, no density, no thumbnail
    segment(out, 0xe0, Array[Byte]('J', 'F', 'I', 'F', 0, 1, 1, 0,
      0, 1, 0, 1, 0, 0))
    // DQT (zigzag order per spec)
    def dqtPayload(id: Int, tbl: Array[Int]): Array[Byte] =
      (id.toByte +: ZigZag.map(nat => tbl(nat).toByte)).toArray
    segment(out, 0xdb, dqtPayload(0, qLum))
    if (channels == 3) segment(out, 0xdb, dqtPayload(1, qChrom))
    // SOF0
    val sof = new java.io.ByteArrayOutputStream()
    sof.write(8) // precision
    u16be(sof, height); u16be(sof, width)
    sof.write(channels)
    var ci = 0
    while (ci < channels) {
      sof.write(ci + 1) // component id
      sof.write((planes(ci).hs << 4) | planes(ci).vs)
      sof.write(if (ci == 0) 0 else 1) // quant table id
      ci += 1
    }
    segment(out, if (progressive) 0xc2 else 0xc0, sof.toByteArray)
    // DHT
    def dhtPayload(clazz: Int, id: Int, bits: Array[Int],
        vals: Array[Int]): Array[Byte] =
      (((clazz << 4) | id).toByte +: (bits.map(_.toByte) ++
        vals.map(_.toByte))).toArray
    segment(out, 0xc4, dhtPayload(0, 0, DcLumBits, DcLumVals))
    segment(out, 0xc4, dhtPayload(1, 0, AcLumBits, AcLumVals))
    if (channels == 3) {
      segment(out, 0xc4, dhtPayload(0, 1, DcChromBits, DcChromVals))
      segment(out, 0xc4, dhtPayload(1, 1, AcChromBits, AcChromVals))
    }
    if (progressive) {
      writeProgressiveScans(out, padded, channels, qLum, qChrom,
        width, height, hMax, vMax, mcusX, mcusY,
        dcLumEnc, dcChromEnc, acLumEnc, acChromEnc)
      marker(out, 0xd9) // EOI
      return out.toByteArray
    }
    // SOS
    val sos = new java.io.ByteArrayOutputStream()
    sos.write(channels)
    ci = 0
    while (ci < channels) {
      sos.write(ci + 1)
      sos.write(if (ci == 0) 0x00 else 0x11) // DC/AC table ids
      ci += 1
    }
    sos.write(0); sos.write(63); sos.write(0) // Ss, Se, Ah/Al
    segment(out, 0xda, sos.toByteArray)

    // entropy-coded data, interleaved MCUs
    val bw = new BitWriter(out)
    val dcPred = new Array[Int](channels)
    def encodeBlock(p: Plane, bx: Int, by: Int, comp: Int): Unit = {
      val q = if (comp == 0) qLum else qChrom
      val dcT = if (comp == 0) dcLumEnc else dcChromEnc
      val acT = if (comp == 0) acLumEnc else acChromEnc
      val zq = quantizedBlock(p, bx, by, q)
      // DC
      val diff = zq(0) - dcPred(comp)
      dcPred(comp) = zq(0)
      val t = category(diff)
      val (dcCode, dcSize) = dcT(t)
      bw.put(dcCode, dcSize)
      if (t > 0)
        bw.put(if (diff < 0) diff + (1 << t) - 1 else diff, t)
      // AC
      var run = 0
      var k = 1
      var lastNz = 63
      while (lastNz > 0 && zq(lastNz) == 0) lastNz -= 1
      while (k <= lastNz) {
        if (zq(k) == 0) run += 1
        else {
          while (run > 15) {
            val (zc, zs) = acT(0xf0); bw.put(zc, zs); run -= 16
          }
          val sz = category(zq(k))
          val (ac, as_) = acT((run << 4) | sz)
          bw.put(ac, as_)
          bw.put(if (zq(k) < 0) zq(k) + (1 << sz) - 1 else zq(k), sz)
          run = 0
        }
        k += 1
      }
      if (lastNz < 63) { val (ec, es) = acT(0x00); bw.put(ec, es) } // EOB
    }
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        var comp = 0
        while (comp < channels) {
          val p = padded(comp)
          var by = 0
          while (by < p.vs) {
            var bx = 0
            while (bx < p.hs) {
              encodeBlock(p, mx * p.hs + bx, my * p.vs + by, comp)
              bx += 1
            }
            by += 1
          }
          comp += 1
        }
        mx += 1
      }
      my += 1
    }
    bw.flush()
    marker(out, 0xd9) // EOI
    out.toByteArray
  }

  // ── decoder ─────────────────────────────────────────────────────────────

  private final case class FrameComp(id: Int, hs: Int, vs: Int, tq: Int)

  def decodeJpeg(b: Array[Byte]): DecodedImage = {
    require(sniff(b), "jpeg: bad SOI signature")
    var pos = 2
    val quant = new Array[Array[Int]](4) // natural-order tables by id
    val dcTables = new Array[HuffTable](4)
    val acTables = new Array[HuffTable](4)
    var comps: Array[FrameComp] = null
    var width = 0; var height = 0
    var restartInterval = 0
    var scan: Array[(Int, Int, Int)] = null // (comp index, dc id, ac id)
    var scanStart = -1

    // progressive (SOF2) state: per-component MCU-padded coefficient
    // buffers accumulated across scans, IDCT'd once at EOI (Annex G)
    var progressive = false
    var progDone = false
    var jumpTo = -1 // absolute resume offset after a progressive scan
    var pPadBW: Array[Int] = null; var pPadBH: Array[Int] = null
    var pCoef: Array[Array[Int]] = null // natural-order, per block ×64
    // per-component, per-coefficient point-transform progression: -1 =
    // not yet established by a first scan, else the Al it currently
    // stands at (r13 advisor: refinement gaps must error, not garble)
    var pProg: Array[Array[Int]] = null
    var pMcusX = 0; var pMcusY = 0
    var pHMax = 1; var pVMax = 1

    def u16(off: Int): Int = ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

    /** Decode one progressive scan's entropy segment (T.81 G.2); returns
      * the absolute offset of the marker that follows it. */
    def decodeProgScan(dataOff: Int, dataLen: Int): Int = {
      val ns = b(dataOff) & 0xff
      require(ns >= 1 && ns <= comps.length, s"jpeg: bad scan Ns=$ns")
      val sComps = Array.tabulate(ns) { i =>
        val cid = b(dataOff + 1 + 2 * i) & 0xff
        val tt = b(dataOff + 2 + 2 * i) & 0xff
        val idx = comps.indexWhere(_.id == cid)
        require(idx >= 0, s"jpeg: SOS references unknown component $cid")
        (idx, tt >> 4, tt & 0x0f)
      }
      val ss = b(dataOff + 1 + 2 * ns) & 0xff
      val se = b(dataOff + 2 + 2 * ns) & 0xff
      val ahal = b(dataOff + 3 + 2 * ns) & 0xff
      val ah = ahal >> 4; val al = ahal & 0x0f
      require(al <= 13 && (ah == 0 || ah == al + 1),
        s"jpeg: bad successive approximation Ah=$ah Al=$al")
      val isDc = ss == 0
      if (isDc) require(se == 0, "jpeg: DC scan must have Se=0")
      else require(ns == 1 && ss <= se && se <= 63,
        s"jpeg: bad AC band $ss..$se (AC scans are single-component)")
      if (isDc && ah == 0) sComps.foreach { case (_, dcId, _) =>
        require(dcTables(dcId) != null, "jpeg: scan references undefined " +
          "Huffman table")
      }
      if (!isDc) sComps.foreach { case (_, _, acId) =>
        require(acTables(acId) != null, "jpeg: scan references undefined " +
          "Huffman table")
      }
      // Scan-script progression audit (T.81 G.1.1.1.1; r13 advisor):
      // every coefficient must be ESTABLISHED by a first scan (Ah=0)
      // before any refinement, each refinement must descend exactly one
      // bit from the coefficient's current point transform (Ah equal to
      // the previously decoded Al), and a component's AC scans must
      // follow its DC first scan. Without this, a refinement scan with
      // no matching predecessor decodes silently to wrong pixels —
      // violating the loud-error-never-garbage policy for malformed
      // streams. Conforming scan scripts are unaffected.
      sComps.foreach { case (ci, _, _) =>
        val st = pProg(ci)
        if (!isDc) require(st(0) >= 0,
          s"jpeg: AC scan for component $ci before its DC first scan")
        var k = if (isDc) 0 else ss
        val kEnd = if (isDc) 0 else se
        while (k <= kEnd) {
          if (ah == 0)
            require(st(k) == -1, s"jpeg: duplicate first scan for " +
              s"component $ci coefficient $k (already at Al=${st(k)})")
          else
            require(st(k) == ah, s"jpeg: refinement gap for component " +
              s"$ci coefficient $k: scan refines from Ah=$ah but the " +
              (if (st(k) < 0) "coefficient has no first scan"
               else s"coefficient stands at Al=${st(k)}"))
          st(k) = al
          k += 1
        }
      }
      val br = new BitReader(b, dataOff + dataLen)
      val pred = new Array[Int](ns)
      var eobrun = 0
      var rstN = 0

      def dcBlock(ci: Int, si: Int, bx: Int, by: Int, dcId: Int): Unit = {
        val buf = pCoef(ci); val off = (by * pPadBW(ci) + bx) * 64
        if (ah == 0) {
          val t = br.decodeHuff(dcTables(dcId))
          require(t <= 15, s"jpeg: bad DC category $t")
          pred(si) += extend(br.receive(t), t)
          buf(off) = pred(si) * (1 << al)
        } else if (br.readBit() == 1) buf(off) |= (1 << al)
      }

      def acFirstBlock(ci: Int, bx: Int, by: Int, acId: Int): Unit = {
        val buf = pCoef(ci); val off = (by * pPadBW(ci) + bx) * 64
        if (eobrun > 0) { eobrun -= 1; return }
        var k = ss
        var done = false
        while (k <= se && !done) {
          val rs = br.decodeHuff(acTables(acId))
          val r = rs >> 4; val s = rs & 0x0f
          if (s == 0) {
            if (r == 15) k += 16 // ZRL
            else {
              eobrun = (1 << r) - 1
              if (r > 0) eobrun += br.receive(r)
              done = true
            }
          } else {
            k += r
            require(k <= se, "jpeg: AC run overruns band")
            buf(off + ZigZag(k)) = extend(br.receive(s), s) * (1 << al)
            k += 1
          }
        }
      }

      def acRefineBlock(ci: Int, bx: Int, by: Int, acId: Int): Unit = {
        val buf = pCoef(ci); val off = (by * pPadBW(ci) + bx) * 64
        val p1 = 1 << al; val m1 = -p1
        def correct(z: Int): Unit =
          if (br.readBit() == 1 && (buf(z) & p1) == 0)
            buf(z) += (if (buf(z) >= 0) p1 else m1)
        var k = ss
        if (eobrun == 0) {
          var done = false
          while (k <= se && !done) {
            val rs = br.decodeHuff(acTables(acId))
            var r = rs >> 4; val s = rs & 0x0f
            var newVal = 0
            if (s == 0) {
              if (r != 15) { // EOBn: current block's tail handled below
                eobrun = 1 << r
                if (r > 0) eobrun += br.receive(r)
                done = true
              } // r == 15: ZRL — skip 16 zero-history coefficients
            } else {
              require(s == 1, "jpeg: AC refinement magnitude must be 1")
              newVal = if (br.readBit() == 1) p1 else m1
            }
            if (!done) {
              // advance over r zero-HISTORY coefficients, emitting
              // correction bits for every nonzero passed on the way
              var brk = false
              while (k <= se && !brk) {
                val z = off + ZigZag(k)
                if (buf(z) != 0) { correct(z); k += 1 }
                else if (r == 0) brk = true
                else { r -= 1; k += 1 }
              }
              if (newVal != 0) {
                require(k <= se, "jpeg: refinement overruns band")
                buf(off + ZigZag(k)) = newVal
              }
              k += 1
            }
          }
        }
        if (eobrun > 0) { // rest of band: correction bits only
          while (k <= se) {
            val z = off + ZigZag(k)
            if (buf(z) != 0) correct(z)
            k += 1
          }
          eobrun -= 1
        }
      }

      def doBlock(ci: Int, si: Int, bx: Int, by: Int): Unit =
        if (isDc) dcBlock(ci, si, bx, by, sComps(si)._2)
        else if (ah == 0) acFirstBlock(ci, bx, by, sComps(si)._3)
        else acRefineBlock(ci, bx, by, sComps(si)._3)

      def restartIfDue(unit: Int): Unit =
        if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
          br.expectRestart(rstN)
          rstN = (rstN + 1) % 8
          java.util.Arrays.fill(pred, 0)
          eobrun = 0
        }

      if (ns > 1) { // interleaved (DC) scan: MCU order over padded dims
        var unit = 0
        var my = 0
        while (my < pMcusY) {
          var mx = 0
          while (mx < pMcusX) {
            restartIfDue(unit); unit += 1
            var si = 0
            while (si < ns) {
              val ci = sComps(si)._1
              val hs = comps(ci).hs; val vs = comps(ci).vs
              var blk = 0
              while (blk < hs * vs) {
                doBlock(ci, si, mx * hs + blk % hs, my * vs + blk / hs)
                blk += 1
              }
              si += 1
            }
            mx += 1
          }
          my += 1
        }
      } else { // non-interleaved: the component's own block raster (A.2.2)
        val ci = sComps(0)._1
        val hs = if (comps.length == 1) 1 else comps(ci).hs
        val vs = if (comps.length == 1) 1 else comps(ci).vs
        val bwN = ((width * hs + pHMax - 1) / pHMax + 7) / 8
        val bhN = ((height * vs + pVMax - 1) / pVMax + 7) / 8
        var bi = 0
        while (bi < bwN * bhN) {
          restartIfDue(bi)
          doBlock(ci, 0, bi % bwN, bi / bwN)
          bi += 1
        }
      }
      val end = br.endOfScan()
      require(end < b.length, "jpeg: entropy stream ran past end of data")
      end
    }

    while (scanStart < 0 && !progDone) {
      // 2 bytes suffice for standalone markers (EOI ends a progressive
      // frame with nothing after it); segment markers re-check for their
      // length field below
      require(pos + 2 <= b.length, "jpeg: truncated marker stream")
      require((b(pos) & 0xff) == 0xff, f"jpeg: expected marker at byte $pos")
      val m = b(pos + 1) & 0xff
      pos += 2
      m match {
        case 0xd8 => // stray SOI — ignore
        case 0x01 => // TEM, standalone
        case 0xd9 => // EOI: terminates a progressive frame
          require(progressive, "jpeg: EOI before scan data")
          progDone = true
        case _ =>
          require(pos + 2 <= b.length, "jpeg: truncated marker stream")
          val len = u16(pos)
          require(len >= 2 && pos + len <= b.length,
            f"jpeg: segment 0xFF$m%02X overruns payload")
          val dataOff = pos + 2
          val dataLen = len - 2
          m match {
            case 0xdb => // DQT: one or more tables
              var o = dataOff
              while (o < dataOff + dataLen) {
                val pq = (b(o) & 0xff) >> 4
                val tq = b(o) & 0x0f
                require(pq == 0, "jpeg: only 8-bit quant precision supported")
                require(o + 65 <= dataOff + dataLen, "jpeg: truncated DQT")
                val tbl = new Array[Int](64)
                var k = 0
                while (k < 64) { tbl(ZigZag(k)) = b(o + 1 + k) & 0xff; k += 1 }
                quant(tq) = tbl
                o += 65
              }
            case 0xc4 => // DHT: one or more tables
              var o = dataOff
              while (o < dataOff + dataLen) {
                val clazz = (b(o) & 0xff) >> 4
                val id = b(o) & 0x0f
                require(o + 17 <= dataOff + dataLen, "jpeg: truncated DHT")
                val bits = Array.tabulate(16)(i => b(o + 1 + i) & 0xff)
                val n = bits.sum
                require(o + 17 + n <= dataOff + dataLen, "jpeg: truncated DHT")
                val vals = Array.tabulate(n)(i => b(o + 17 + i) & 0xff)
                val t = new HuffTable(bits, vals)
                if (clazz == 0) dcTables(id) = t else acTables(id) = t
                o += 17 + n
              }
            case 0xc0 | 0xc1 | 0xc2 => // SOF0/1 baseline, SOF2 progressive
              require(comps == null, "jpeg: duplicate SOF")
              require((b(dataOff) & 0xff) == 8, "jpeg: only 8-bit precision")
              height = u16(dataOff + 1); width = u16(dataOff + 3)
              require(width > 0 && height > 0, s"jpeg: bad dims ${width}x$height")
              val nc = b(dataOff + 5) & 0xff
              require(nc == 1 || nc == 3,
                s"jpeg: only 1 or 3 components supported, got $nc")
              comps = Array.tabulate(nc) { i =>
                val o = dataOff + 6 + 3 * i
                val hv = b(o + 1) & 0xff
                FrameComp(b(o) & 0xff, hv >> 4, hv & 0x0f, b(o + 2) & 0x0f)
              }
              comps.foreach { fc =>
                require(fc.hs >= 1 && fc.hs <= 2 && fc.vs >= 1 && fc.vs <= 2,
                  s"jpeg: sampling ${fc.hs}x${fc.vs} unsupported (1 or 2 only)")
              }
              if (m == 0xc2) {
                progressive = true
                pHMax = comps.map(_.hs).max
                pVMax = comps.map(_.vs).max
                if (nc == 1) {
                  pMcusX = (width + 7) / 8; pMcusY = (height + 7) / 8
                } else {
                  pMcusX = (width + 8 * pHMax - 1) / (8 * pHMax)
                  pMcusY = (height + 8 * pVMax - 1) / (8 * pVMax)
                }
                pPadBW = new Array[Int](nc); pPadBH = new Array[Int](nc)
                pCoef = new Array[Array[Int]](nc)
                pProg = Array.fill(nc)(Array.fill(64)(-1))
                var i = 0
                while (i < nc) {
                  val (hs, vs) =
                    if (nc == 1) (1, 1) else (comps(i).hs, comps(i).vs)
                  pPadBW(i) = pMcusX * hs; pPadBH(i) = pMcusY * vs
                  pCoef(i) = new Array[Int](pPadBW(i) * pPadBH(i) * 64)
                  i += 1
                }
              }
            case x if x >= 0xc3 && x <= 0xcf && x != 0xc4 && x != 0xc8 =>
              throw new IllegalArgumentException(
                f"jpeg: unsupported frame type 0xFF$x%02X — baseline only")
            case 0xdd => // DRI
              restartInterval = u16(dataOff)
            case 0xda => // SOS
              require(comps != null, "jpeg: SOS before SOF")
              if (progressive) {
                jumpTo = decodeProgScan(dataOff, dataLen)
              } else {
                val ns = b(dataOff) & 0xff
                require(ns == comps.length,
                  "jpeg: partial (non-interleaved multi-scan) scans unsupported")
                scan = Array.tabulate(ns) { i =>
                  val cid = b(dataOff + 1 + 2 * i) & 0xff
                  val tt = b(dataOff + 2 + 2 * i) & 0xff
                  val idx = comps.indexWhere(_.id == cid)
                  require(idx >= 0, s"jpeg: SOS references unknown component $cid")
                  (idx, tt >> 4, tt & 0x0f)
                }
                scanStart = dataOff + 1 + 2 * ns + 3
              }
            case _ => // APPn, COM, others: skip
          }
          pos += len
          if (jumpTo >= 0) { pos = jumpTo; jumpTo = -1 }
      }
    }

    if (progressive) { // dequantize + inverse-transform the accumulated
      val nc = comps.length // coefficients, then assemble like baseline
      val planeW = Array.tabulate(nc)(pPadBW(_) * 8)
      val planes = new Array[Array[Int]](nc)
      val tmp = new Array[Int](64)
      var ci = 0
      while (ci < nc) {
        val q = quant(comps(ci).tq)
        require(q != null, "jpeg: component references undefined quant table")
        planes(ci) = new Array[Int](planeW(ci) * pPadBH(ci) * 8)
        val buf = pCoef(ci); val pw = planeW(ci)
        var bi = 0
        while (bi < pPadBW(ci) * pPadBH(ci)) {
          val off = bi * 64
          var j = 0
          while (j < 64) { tmp(j) = buf(off + j) * q(j); j += 1 }
          val px = idct(tmp)
          val bx = bi % pPadBW(ci); val by = bi / pPadBW(ci)
          var yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 8) {
              planes(ci)((by * 8 + yy) * pw + bx * 8 + xx) = px(yy * 8 + xx)
              xx += 1
            }
            yy += 1
          }
          bi += 1
        }
        ci += 1
      }
      return assemblePixels(width, height, nc, comps, pHMax, pVMax,
        planeW, planes)
    }

    val nc = comps.length
    val hMax = comps.map(_.hs).max
    val vMax = comps.map(_.vs).max
    // single-component scans are never interleaved: MCU = one block
    val (mcusX, mcusY) =
      if (nc == 1) ((width + 7) / 8, (height + 7) / 8)
      else ((width + 8 * hMax - 1) / (8 * hMax),
        (height + 8 * vMax - 1) / (8 * vMax))
    val planeW = new Array[Int](nc); val planeH = new Array[Int](nc)
    val planes = new Array[Array[Int]](nc)
    val blocksPerMcu = new Array[Int](nc)
    var i = 0
    while (i < nc) {
      val (hs, vs) = if (nc == 1) (1, 1) else (comps(i).hs, comps(i).vs)
      planeW(i) = mcusX * hs * 8
      planeH(i) = mcusY * vs * 8
      planes(i) = new Array[Int](planeW(i) * planeH(i))
      blocksPerMcu(i) = hs * vs
      i += 1
    }
    scan.foreach { case (idx, dcId, acId) =>
      require(dcTables(dcId) != null && acTables(acId) != null,
        "jpeg: scan references undefined Huffman table")
      require(quant(comps(idx).tq) != null,
        "jpeg: component references undefined quant table")
    }

    val br = new BitReader(b, scanStart)
    val dcPred = new Array[Int](nc)
    var rstCount = 0
    var rstN = 0
    val coef = new Array[Int](64)
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && rstCount == restartInterval) {
          br.expectRestart(rstN)
          rstN = (rstN + 1) % 8
          rstCount = 0
          java.util.Arrays.fill(dcPred, 0)
        }
        var sc = 0
        while (sc < nc) {
          val (idx, dcId, acId) = scan(sc)
          val fc = comps(idx)
          val hs = if (nc == 1) 1 else fc.hs
          val vs = if (nc == 1) 1 else fc.vs
          val q = quant(fc.tq)
          var blk = 0
          while (blk < blocksPerMcu(idx)) {
            val bx = mx * hs + blk % hs
            val by = my * vs + blk / hs
            java.util.Arrays.fill(coef, 0)
            // DC
            val t = br.decodeHuff(dcTables(dcId))
            require(t <= 15, s"jpeg: bad DC category $t")
            dcPred(idx) += extend(br.receive(t), t)
            coef(0) = dcPred(idx) * q(0)
            // AC
            var k = 1
            var eob = false
            while (k < 64 && !eob) {
              val rs = br.decodeHuff(acTables(acId))
              val r = rs >> 4; val s = rs & 0x0f
              if (s == 0) {
                if (r == 15) k += 16 // ZRL
                else eob = true
              } else {
                k += r
                require(k < 64, "jpeg: AC run overruns block")
                coef(ZigZag(k)) = extend(br.receive(s), s) * q(ZigZag(k))
                k += 1
              }
            }
            val px = idct(coef)
            val plane = planes(idx); val pw = planeW(idx)
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                plane((by * 8 + yy) * pw + bx * 8 + xx) = px(yy * 8 + xx)
                xx += 1
              }
              yy += 1
            }
            blk += 1
          }
          sc += 1
        }
        rstCount += 1
        mx += 1
      }
      my += 1
    }

    assemblePixels(width, height, nc, comps, hMax, vMax, planeW, planes)
  }

  /** Crop decoded planes to true dims; upsample chroma by replication and
    * color-convert for 3-component frames. Shared by the baseline and
    * progressive decode paths. */
  private def assemblePixels(width: Int, height: Int, nc: Int,
      comps: Array[FrameComp], hMax: Int, vMax: Int,
      planeW: Array[Int], planes: Array[Array[Int]]): DecodedImage =
    if (nc == 1) {
      val out = new Array[Int](width * height)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          out(y * width + x) = planes(0)(y * planeW(0) + x)
          x += 1
        }
        y += 1
      }
      DecodedImage(width, height, 1, out)
    } else {
      val out = new Array[Int](width * height * 3)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          def sampleOf(i: Int): Int = {
            val sx = x * comps(i).hs / hMax
            val sy = y * comps(i).vs / vMax
            planes(i)(sy * planeW(i) + sx)
          }
          val yv = sampleOf(0); val cb = sampleOf(1); val cr = sampleOf(2)
          val o = (y * width + x) * 3
          out(o) = yccToR(yv, cr)
          out(o + 1) = yccToG(yv, cb, cr)
          out(o + 2) = yccToB(yv, cb)
          x += 1
        }
        y += 1
      }
      DecodedImage(width, height, 3, out)
    }

  // ── deterministic block-constant fixtures (oracle-replayable) ───────────

  /** Per-block value rule (the textRaster portability rule at block
    * granularity): v(k) = codepoint(text, k mod len) mod 256, 0 for empty
    * text — SQL: `ord(substr(text, (k % length(text)) + 1, 1)) % 256`. */
  private def blockVals(text: String, n: Int): Array[Int] = {
    val cps = text.codePoints().toArray
    Array.tabulate(n)(k => if (cps.isEmpty) 0 else cps(k % cps.length) % 256)
  }

  /** 8·blocksW × 8·blocksH grayscale raster of constant 8×8 blocks,
    * block k (row-major) = v(k). */
  def grayBlockRaster(text: String, blocksW: Int, blocksH: Int): Array[Byte] = {
    val vs = blockVals(text, blocksW * blocksH)
    val w = blocksW * 8
    val out = new Array[Byte](w * blocksH * 8)
    var y = 0
    while (y < blocksH * 8) {
      var x = 0
      while (x < w) {
        out(y * w + x) = vs((y / 8) * blocksW + x / 8).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** 16·tilesW × 16·tilesH RGB raster of constant 16×16 tiles; tile t
    * (row-major) has (r,g,b) = (v(3t), v(3t+1), v(3t+2)) — 16×16 so the
    * 4:2:0-subsampled chroma blocks are constant too. */
  def colorTileRaster(text: String, tilesW: Int, tilesH: Int): Array[Byte] = {
    val vs = blockVals(text, tilesW * tilesH * 3)
    val w = tilesW * 16
    val out = new Array[Byte](w * tilesH * 16 * 3)
    var y = 0
    while (y < tilesH * 16) {
      var x = 0
      while (x < w) {
        val t = (y / 16) * tilesW + x / 16
        val o = (y * w + x) * 3
        out(o) = vs(3 * t).toByte
        out(o + 1) = vs(3 * t + 1).toByte
        out(o + 2) = vs(3 * t + 2).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  // the [[JpegExprs]] call targets
  def encodeGrayBlocksJpeg(text: org.apache.spark.unsafe.types.UTF8String,
      blocksW: Int, blocksH: Int, quality: Int): Array[Byte] =
    encodeJpeg(blocksW * 8, blocksH * 8, 1,
      grayBlockRaster(text.toString, blocksW, blocksH), quality)

  def encodeColorTilesJpeg(text: org.apache.spark.unsafe.types.UTF8String,
      tilesW: Int, tilesH: Int, quality: Int): Array[Byte] =
    encodeJpeg(tilesW * 16, tilesH * 16, 3,
      colorTileRaster(text.toString, tilesW, tilesH), quality,
      subsample420 = true)

  def encodeGrayBlocksJpegProgressive(
      text: org.apache.spark.unsafe.types.UTF8String,
      blocksW: Int, blocksH: Int, quality: Int): Array[Byte] =
    encodeJpeg(blocksW * 8, blocksH * 8, 1,
      grayBlockRaster(text.toString, blocksW, blocksH), quality,
      progressive = true)

  def encodeColorTilesJpegProgressive(
      text: org.apache.spark.unsafe.types.UTF8String,
      tilesW: Int, tilesH: Int, quality: Int): Array[Byte] =
    encodeJpeg(tilesW * 16, tilesH * 16, 3,
      colorTileRaster(text.toString, tilesW, tilesH), quality,
      subsample420 = true, progressive = true)
}

/** Column-API face for the JPEG fixture encoders: text → block-constant
  * JFIF payload (gray, or 4:2:0 YCbCr colour tiles; a SOF2 multi-scan
  * stream for the progressive forms). */
object JpegExprs {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.types.BinaryType

  private def fixture(method: String, text: Column, w: Int, h: Int,
      quality: Int): Column =
    Native.call("encode_jpeg_fixture", JpegCodec, method, BinaryType,
      Seq(w, h, quality))(text)

  def encodeJpegGrayBlocks(text: Column, blocksW: Int, blocksH: Int,
      quality: Int): Column =
    fixture("encodeGrayBlocksJpeg", text, blocksW, blocksH, quality)
  def encodeJpegColorTiles(text: Column, tilesW: Int, tilesH: Int,
      quality: Int): Column =
    fixture("encodeColorTilesJpeg", text, tilesW, tilesH, quality)
  def encodeJpegGrayBlocksProgressive(text: Column, blocksW: Int,
      blocksH: Int, quality: Int): Column =
    fixture("encodeGrayBlocksJpegProgressive", text, blocksW, blocksH, quality)
  def encodeJpegColorTilesProgressive(text: Column, tilesW: Int,
      tilesH: Int, quality: Int): Column =
    fixture("encodeColorTilesJpegProgressive", text, tilesW, tilesH, quality)
}
