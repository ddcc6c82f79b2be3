package graft.functions

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pure-JVM image codec for two public uncompressed formats:
  *
  *  - **Netpbm** binary rasters (P6 RGB / P5 grayscale, maxval ≤ 255):
  *    header is ASCII tokens separated by whitespace, `#`-comments legal
  *    anywhere between tokens, exactly one whitespace byte between the
  *    maxval token and the raster.
  *  - **BMP** (Windows V3, `BITMAPINFOHEADER`, 24 bpp, `BI_RGB`):
  *    little-endian headers, pixel rows stored **bottom-up** (top-down iff
  *    height is negative), samples in **BGR** order, each row padded to a
  *    4-byte boundary.
  *
  * `decode` normalizes both to the same shape — row-major **top-down**,
  * channel-interleaved **RGB** (or single-channel gray) int samples — so
  * everything downstream is format-agnostic. This replaces the
  * `StubMediaCodec` byte-fold that stood in for a decoder in rounds 1–7
  * (the one `partial` component in the LLM-pipeline brief): the decoder
  * now performs a real format parse, and a wrong flip / padding / channel
  * order produces wrong pixels, caught by golden-byte specs and the
  * row/channel-sensitive oracle gates (m1/m3/m5/m6).
  *
  * All entry points are static so the [[NativeCall]] faces below
  * ([[ImageExprs]]) call them from generated Java through their static
  * forwarders.
  *
  * Reference scope: the reference pipeline has no media path at all
  * (/root/reference/tools.py is CSV/JSON/SQL only); this is part of the
  * beyond-reference LLM-pipeline surface, built on the public format
  * specs (Netpbm man pages; the Windows BITMAPINFOHEADER layout).
  */
object ImageCodec {

  /** Decoded raster: row-major top-down, channel-interleaved RGB (ch=3)
    * or gray (ch=1), each sample in 0..255. */
  final case class DecodedImage(width: Int, height: Int, channels: Int,
      pixels: Array[Int])

  // ── encoders ────────────────────────────────────────────────────────────

  /** P6 binary PPM: `P6\n<w> <h>\n255\n` + w·h RGB triplets. */
  def encodePpm(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, s"ppm: bad dims ${width}x$height")
    require(rgb.length == width * height * 3,
      s"ppm: raster is ${rgb.length} bytes, want ${width * height * 3}")
    s"P6\n$width $height\n255\n".getBytes(US_ASCII) ++ rgb
  }

  /** P5 binary PGM: `P5\n<w> <h>\n255\n` + w·h gray bytes. */
  def encodePgm(width: Int, height: Int, gray: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, s"pgm: bad dims ${width}x$height")
    require(gray.length == width * height,
      s"pgm: raster is ${gray.length} bytes, want ${width * height}")
    s"P5\n$width $height\n255\n".getBytes(US_ASCII) ++ gray
  }

  /** 24-bpp BI_RGB BMP from a top-down RGB raster: 54-byte header pair,
    * rows written bottom-up in BGR with zero-padding to 4-byte boundaries
    * — the three quirks a decoder must undo. */
  def encodeBmp(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, s"bmp: bad dims ${width}x$height")
    require(rgb.length == width * height * 3,
      s"bmp: raster is ${rgb.length} bytes, want ${width * height * 3}")
    val rowBytes = ((width * 3 + 3) / 4) * 4
    val imgSize = rowBytes * height
    val out = new Array[Byte](54 + imgSize)
    def put16(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >>> 8).toByte
    }
    def put32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >>> 8).toByte
      out(off + 2) = (v >>> 16).toByte; out(off + 3) = (v >>> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    put32(2, 54 + imgSize) // file size
    put32(10, 54)          // pixel-data offset
    put32(14, 40)          // BITMAPINFOHEADER size
    put32(18, width)
    put32(22, height)      // positive → bottom-up
    put16(26, 1)           // planes
    put16(28, 24)          // bpp
    put32(30, 0)           // BI_RGB
    put32(34, imgSize)
    var y = 0
    while (y < height) {
      val dstRow = 54 + (height - 1 - y) * rowBytes // bottom-up
      var x = 0
      while (x < width) {
        val src = (y * width + x) * 3
        val dst = dstRow + x * 3
        out(dst) = rgb(src + 2)     // B
        out(dst + 1) = rgb(src + 1) // G
        out(dst + 2) = rgb(src)     // R
        x += 1
      }
      // padding bytes stay zero
      y += 1
    }
    out
  }

  // ── decoder ─────────────────────────────────────────────────────────────

  /** Sniff the magic and decode. Throws `IllegalArgumentException` on
    * unsupported/corrupt payloads — loud failure beats silent garbage in a
    * pipeline stage (callers that want tolerance wrap in try_*). */
  def decode(bytes: Array[Byte]): DecodedImage = {
    require(bytes != null && bytes.length >= 2, "image: payload too short")
    val m0 = bytes(0).toChar; val m1 = bytes(1).toChar
    if (m0 == 'P' && m1 == '6') decodeNetpbm(bytes, channels = 3)
    else if (m0 == 'P' && m1 == '5') decodeNetpbm(bytes, channels = 1)
    else if (m0 == 'B' && m1 == 'M') decodeBmp(bytes)
    else if (PngCodec.sniff(bytes)) PngCodec.decodePng(bytes)
    else if (GifCodec.sniff(bytes)) GifCodec.decodeGif(bytes)
    else if (JpegCodec.sniff(bytes)) JpegCodec.decodeJpeg(bytes)
    else throw new IllegalArgumentException(
      s"image: unsupported magic '$m0$m1' (want P6/P5/BM/PNG/GIF/JPEG)")
  }

  private def isNetpbmWs(c: Byte): Boolean =
    c == ' ' || c == '\t' || c == '\r' || c == '\n'

  private def decodeNetpbm(b: Array[Byte], channels: Int): DecodedImage = {
    var pos = 2
    def skipWsAndComments(): Unit = {
      var done = false
      while (!done && pos < b.length) {
        if (b(pos) == '#') { while (pos < b.length && b(pos) != '\n') pos += 1 }
        else if (isNetpbmWs(b(pos))) pos += 1
        else done = true
      }
    }
    def readInt(): Int = {
      skipWsAndComments()
      require(pos < b.length && b(pos) >= '0' && b(pos) <= '9',
        s"netpbm: expected integer at byte $pos")
      var v = 0
      while (pos < b.length && b(pos) >= '0' && b(pos) <= '9') {
        v = v * 10 + (b(pos) - '0'); pos += 1
      }
      v
    }
    val w = readInt(); val h = readInt(); val maxval = readInt()
    require(w > 0 && h > 0, s"netpbm: bad dims ${w}x$h")
    require(maxval > 0 && maxval < 256,
      s"netpbm: only 1-byte samples supported, maxval=$maxval")
    // exactly ONE whitespace byte separates maxval from the raster (per
    // the format spec — a raster may legally begin with a comment-like
    // '#' byte, so skipping more would corrupt it)
    require(pos < b.length && isNetpbmWs(b(pos)),
      "netpbm: missing raster separator")
    pos += 1
    val n = w * h * channels
    require(b.length - pos >= n,
      s"netpbm: raster truncated (${b.length - pos} of $n bytes)")
    val px = new Array[Int](n)
    var i = 0
    while (i < n) { px(i) = b(pos + i) & 0xff; i += 1 }
    DecodedImage(w, h, channels, px)
  }

  private def u16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def i32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def decodeBmp(b: Array[Byte]): DecodedImage = {
    require(b.length >= 54, "bmp: truncated header")
    val dataOff = i32(b, 10)
    require(i32(b, 14) >= 40, "bmp: need BITMAPINFOHEADER (V3+)")
    val w = i32(b, 18)
    val hRaw = i32(b, 22)
    val topDown = hRaw < 0
    val h = if (topDown) -hRaw else hRaw
    require(w > 0 && h > 0, s"bmp: bad dims ${w}x$hRaw")
    require(u16(b, 28) == 24, s"bmp: only 24 bpp supported, got ${u16(b, 28)}")
    require(i32(b, 30) == 0, "bmp: only BI_RGB (uncompressed) supported")
    val rowBytes = ((w * 3 + 3) / 4) * 4
    require(dataOff >= 54 && b.length.toLong >= dataOff.toLong + rowBytes.toLong * h,
      s"bmp: raster truncated (file ${b.length}, need ${dataOff + rowBytes * h})")
    val px = new Array[Int](w * h * 3)
    var y = 0
    while (y < h) {
      val srcRow = dataOff + (if (topDown) y else h - 1 - y) * rowBytes
      var x = 0
      while (x < w) {
        val src = srcRow + x * 3
        val dst = (y * w + x) * 3
        px(dst) = b(src + 2) & 0xff     // R (stored BGR)
        px(dst + 1) = b(src + 1) & 0xff // G
        px(dst + 2) = b(src) & 0xff     // B
        x += 1
      }
      y += 1
    }
    DecodedImage(w, h, 3, px)
  }

  // ── deterministic fixture raster + static forwarders for codegen ────────

  /** Deterministic raster from text: sample i = codepoint(i mod len) mod
    * 256. Codepoints (not UTF-8 bytes) so a SQL oracle replays it with
    * `ord(substr(text, (i % length(text)) + 1, 1)) % 256` — the same
    * portability rule as polyHash. Empty text → all-zero raster. */
  def textRaster(text: String, nVals: Int): Array[Byte] = {
    val cps = text.codePoints().toArray
    val out = new Array[Byte](nVals)
    if (cps.nonEmpty) {
      var i = 0
      while (i < nVals) { out(i) = (cps(i % cps.length) % 256).toByte; i += 1 }
    }
    out
  }

  /** Static forwarder: text → encoded image payload in `format`
    * ("ppm" | "pgm" | "bmp"), raster from [[textRaster]]. */
  def encodeFromText(text: UTF8String, format: String, width: Int,
      height: Int): Array[Byte] = format match {
    case "ppm" => encodePpm(width, height, textRaster(text.toString, width * height * 3))
    case "pgm" => encodePgm(width, height, textRaster(text.toString, width * height))
    case "bmp" => encodeBmp(width, height, textRaster(text.toString, width * height * 3))
    case "png" =>
      PngCodec.encodePng(width, height, 3, textRaster(text.toString, width * height * 3))
    case "png_gray" =>
      PngCodec.encodePng(width, height, 1, textRaster(text.toString, width * height))
    case "gif" =>
      GifCodec.encodeGif(width, height, textRaster(text.toString, width * height))
    case other => throw new IllegalArgumentException(s"image: unknown format '$other'")
  }

  /** 2× average-pool downsample (the real resize kernel the round-1
    * `resizePlan` only computed geometry for): each output sample is the
    * floor-mean of its 2×2 input block, per channel — integer-exact, so
    * SQL oracles replay it with `//`. Odd trailing row/column is dropped
    * (floor semantics, the standard pooling convention). */
  def downsample2x(d: DecodedImage): DecodedImage = {
    val ow = d.width / 2
    val oh = d.height / 2
    val ch = d.channels
    val out = new Array[Int](ow * oh * ch)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        var c = 0
        while (c < ch) {
          val i00 = ((2 * y) * d.width + 2 * x) * ch + c
          val i01 = i00 + ch
          val i10 = i00 + d.width * ch
          val i11 = i10 + ch
          out((y * ow + x) * ch + c) =
            (d.pixels(i00) + d.pixels(i01) + d.pixels(i10) + d.pixels(i11)) / 4
          c += 1
        }
        x += 1
      }
      y += 1
    }
    DecodedImage(ow, oh, ch, out)
  }

  /** Static forwarder: decode → full pixel array (channel-interleaved,
    * top-down) for column-level math over individual samples. */
  def decodePixels(bytes: Array[Byte]): ArrayData =
    new GenericArrayData(decode(bytes).pixels.map(Int.box(_): Any))

  /** Static forwarder: decode → 2× average-pool → integer stats (same
    * struct as [[statsRow]], over the POOLED raster). */
  def downsampleStatsRow(bytes: Array[Byte]): InternalRow =
    statsOf(downsample2x(decode(bytes)))

  /** [[statsRow]] that returns null instead of throwing on corrupt
    * payloads — the poison-pill posture a production media pipeline
    * needs (drop and count bad blobs; don't kill the job 90 TB in).
    * Only parse failures (`IllegalArgumentException`) are absorbed;
    * genuine bugs still surface. */
  def tryStatsRow(bytes: Array[Byte]): InternalRow =
    try statsRow(bytes)
    catch { case _: IllegalArgumentException => null }

  /** Average-hash (aHash) of a decoded raster as 16-bit LSH BANDS:
    * bit i = sample i ≥ ⌊mean⌋, packed little-endian 16 bits per band.
    * Emitting bands directly (instead of one 64-bit hash) serves both
    * consumers at once — banded candidate generation joins on
    * (band_idx, band_value), and the exact Hamming distance is the
    * popcount sum of band XORs — and keeps every value in integer
    * ranges a SQL oracle replays without unsigned-64 gymnastics.
    * Classic perceptual near-dup hash: small pixel perturbations flip
    * few bits; unrelated images differ in ~half. */
  def aHashBands(bytes: Array[Byte]): ArrayData = {
    val px = decode(bytes).pixels
    require(px.length % 16 == 0,
      s"ahash: sample count ${px.length} not band-aligned")
    var sum = 0L
    var i = 0
    while (i < px.length) { sum += px(i); i += 1 }
    val mean = sum / px.length
    val bands = new Array[Any](px.length / 16)
    var b = 0
    while (b < bands.length) {
      var v = 0
      var j = 0
      while (j < 16) {
        if (px(16 * b + j) >= mean) v |= 1 << j
        j += 1
      }
      bands(b) = v
      b += 1
    }
    new GenericArrayData(bands)
  }

  /** Schema of [[statsRow]] — every field integer-exact, so the oracle
    * hash gate has no float surface at all. */
  val statsSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("n_vals", LongType, nullable = false),
    StructField("sum_all", LongType, nullable = false),
    StructField("sum_c0", LongType, nullable = false),
    StructField("sum_c1", LongType, nullable = false),
    StructField("sum_c2", LongType, nullable = false),
    StructField("row0_sum", LongType, nullable = false),
    StructField("px_min", IntegerType, nullable = false),
    StructField("px_max", IntegerType, nullable = false)))

  /** Static forwarder: decode + one-pass integer pixel statistics.
    * `row0_sum` (the first raster row, top-down) is the flip detector: a
    * decoder that forgot BMP's bottom-up order produces the right
    * per-channel sums but the wrong first row. Channel sums are the
    * BGR-order detector; `n_vals`/`sum_all` catch padding leaks. */
  def statsRow(bytes: Array[Byte]): InternalRow = statsOf(decode(bytes))

  private def statsOf(d: DecodedImage): InternalRow = {
    val px = d.pixels
    var sumAll = 0L
    val ch = new Array[Long](3)
    var row0 = 0L
    var mn = if (px.isEmpty) 0 else 255
    var mx = 0
    val row0End = d.width * d.channels
    var i = 0
    while (i < px.length) {
      val v = px(i)
      sumAll += v
      ch(i % d.channels) += v
      if (i < row0End) row0 += v
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    InternalRow(d.width, d.height, d.channels, px.length.toLong, sumAll,
      ch(0), ch(1), ch(2), row0, mn, mx)
  }
}

/** Column-API face for the image expressions. */
object ImageExprs {
  /** Text → encoded image payload ([[ImageCodec.encodeFromText]]). The
    * format/dims are call parameters (fixture geometry), not runtime
    * columns. */
  def encodeImageFromText(text: Column, format: String, width: Int,
      height: Int): Column =
    Native.call("encode_image_from_text", ImageCodec, "encodeFromText",
      BinaryType, Seq(format, width, height))(text)

  /** Binary image payload → integer pixel-statistics struct
    * ([[ImageCodec.statsRow]]): one decode + one tight loop per row, inside
    * whole-stage codegen. */
  def imageStats(payload: Column): Column =
    Native.call("image_stats", ImageCodec, "statsRow", ImageCodec.statsSchema)(payload)

  /** Binary image payload → full pixel array (channel-interleaved,
    * top-down ints) for sample-level column math — luminance, thresholds,
    * any per-pixel derivation via higher-order array functions. */
  def decodePixels(payload: Column): Column =
    Native.call("decode_pixels", ImageCodec, "decodePixels",
      ArrayType(IntegerType, containsNull = false))(payload)

  /** Binary image payload → decode → 2× average-pool → integer stats of
    * the POOLED raster ([[ImageCodec.downsampleStatsRow]]): the real
    * resize kernel fused with its summary, one tight loop per row. */
  def imageDownsampleStats(payload: Column): Column =
    Native.call("image_downsample_stats", ImageCodec, "downsampleStatsRow",
      ImageCodec.statsSchema)(payload)

  /** [[imageStats]] with poison-pill tolerance: corrupt payloads yield
    * NULL (counted/dropped downstream) instead of failing the job —
    * [[ImageCodec.tryStatsRow]], whose null result the call passes on. */
  def tryImageStats(payload: Column): Column =
    Native.call("try_image_stats", ImageCodec, "tryStatsRow",
      ImageCodec.statsSchema, returnNullable = true)(payload)

  /** Binary image payload → aHash as 16-bit LSH bands (array<int>),
    * [[ImageCodec.aHashBands]]. */
  def aHashBands(payload: Column): Column =
    Native.call("ahash_bands", ImageCodec, "aHashBands",
      ArrayType(IntegerType, containsNull = false))(payload)
}
