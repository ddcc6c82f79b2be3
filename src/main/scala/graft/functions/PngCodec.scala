package graft.functions

import java.util.zip.{CRC32, Deflater, Inflater}

import graft.functions.ImageCodec.DecodedImage

/** Pure-JVM PNG codec — the first COMPRESSED format in the media family,
  * with zero native dependencies: DEFLATE ships in the JDK
  * (`java.util.zip.Inflater`/`Deflater`), so only the PNG container is
  * implemented here, all of it public spec (RFC 2083 / the W3C PNG
  * recommendation):
  *
  *  - 8-byte signature `\x89PNG\r\n\x1a\n`;
  *  - chunk framing: 4-byte big-endian length, 4-byte type, payload,
  *    CRC-32 over type+payload (verified on every chunk — a flipped bit
  *    anywhere is a loud decode failure, not silent garbage);
  *  - IHDR: width/height (big-endian), bit depth 8, color type 0
  *    (grayscale) or 2 (truecolor RGB), compression 0, filter method 0,
  *    interlace 0 (Adam7 unsupported → loud error);
  *  - IDAT: one zlib stream, legally split across any number of chunks —
  *    the decoder concatenates before inflating;
  *  - per-scanline filters 0–4 (None, Sub, Up, Average, Paeth), all five
  *    implemented in both directions. The encoder deliberately cycles
  *    `filter = y mod 5` so every encoded fixture exercises every
  *    unfilter path — filters are lossless, so decoded pixels (and the
  *    closed-form oracle) are filter-invariant, but a broken Paeth
  *    predictor or Average floor shifts every subsequent row and fails
  *    the hash gate.
  *
  * Decoded output is normalized to the same [[DecodedImage]] contract as
  * Netpbm/BMP (row-major top-down, channel-interleaved, 0..255), so
  * every downstream stats/hash/pooling expression is format-agnostic.
  *
  * This shrank the labeled `StubMediaCodec` seam
  * (operators/Multimodal.scala); with [[JpegCodec]] (round 12) the seam
  * is down to H.264/MP3, which need JNI libraries the container lacks.
  *
  * Reference scope: the reference pipeline has no media path at all
  * (/root/reference/tools.py is CSV/JSON/SQL only); beyond-reference
  * LLM-pipeline surface per the build brief.
  */
object PngCodec {

  private val Signature: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)

  /** True iff the payload starts with the 8-byte PNG signature. */
  def sniff(b: Array[Byte]): Boolean =
    b.length >= 8 && (0 until 8).forall(i => b(i) == Signature(i))

  // ── scanline filters (both directions) ──────────────────────────────────

  /** Paeth predictor (PNG spec §6.6): nearest of left/up/up-left to
    * left + up − upLeft, ties broken left, up, upLeft. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Filter one scanline in place into `out` (encoder side). `raw` is the
    * unfiltered image buffer; `prior` offsets index the previous row (or
    * -1 for row 0 → treated as zeros per spec). */
  private def filterRow(ftype: Int, raw: Array[Byte], rowOff: Int,
      priorOff: Int, rowLen: Int, bpp: Int, out: Array[Byte],
      outOff: Int): Unit = {
    var x = 0
    while (x < rowLen) {
      val r = raw(rowOff + x) & 0xff
      val left = if (x >= bpp) raw(rowOff + x - bpp) & 0xff else 0
      val up = if (priorOff >= 0) raw(priorOff + x) & 0xff else 0
      val upLeft =
        if (priorOff >= 0 && x >= bpp) raw(priorOff + x - bpp) & 0xff else 0
      val v = ftype match {
        case 0 => r
        case 1 => r - left
        case 2 => r - up
        case 3 => r - (left + up) / 2
        case 4 => r - paeth(left, up, upLeft)
        case other =>
          throw new IllegalArgumentException(s"png: bad filter type $other")
      }
      out(outOff + x) = (v & 0xff).toByte
      x += 1
    }
  }

  /** Reverse one scanline's filter in place (decoder side). `buf` holds
    * already-reconstructed rows; the current row at `rowOff` contains
    * filtered bytes on entry, raw bytes on exit. */
  private def unfilterRow(ftype: Int, buf: Array[Byte], rowOff: Int,
      priorOff: Int, rowLen: Int, bpp: Int): Unit = {
    var x = 0
    while (x < rowLen) {
      val f = buf(rowOff + x) & 0xff
      val left = if (x >= bpp) buf(rowOff + x - bpp) & 0xff else 0
      val up = if (priorOff >= 0) buf(priorOff + x) & 0xff else 0
      val upLeft =
        if (priorOff >= 0 && x >= bpp) buf(priorOff + x - bpp) & 0xff else 0
      val v = ftype match {
        case 0 => f
        case 1 => f + left
        case 2 => f + up
        case 3 => f + (left + up) / 2
        case 4 => f + paeth(left, up, upLeft)
        case other =>
          throw new IllegalArgumentException(
            s"png: bad scanline filter type $other")
      }
      buf(rowOff + x) = (v & 0xff).toByte
      x += 1
    }
  }

  // ── encoder ─────────────────────────────────────────────────────────────

  private def crcOf(typeAndData: Array[Byte]*): Long = {
    val c = new CRC32()
    typeAndData.foreach(a => c.update(a))
    c.getValue
  }

  private def be32(v: Long): Array[Byte] = Array(
    ((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
    ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def chunk(ctype: String, data: Array[Byte]): Array[Byte] = {
    val t = ctype.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    be32(data.length.toLong) ++ t ++ data ++ be32(crcOf(t, data))
  }

  /** Encode a top-down channel-interleaved raster (RGB if channels=3,
    * gray if 1) as a single-IDAT PNG, scanline filter cycling `y mod 5`
    * so each fixture exercises all five filter paths. */
  def encodePng(width: Int, height: Int, channels: Int,
      samples: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, s"png: bad dims ${width}x$height")
    require(channels == 1 || channels == 3, s"png: channels=$channels")
    require(samples.length == width * height * channels,
      s"png: raster is ${samples.length} bytes, want ${width * height * channels}")
    val rowLen = width * channels
    val filtered = new Array[Byte](height * (1 + rowLen))
    var y = 0
    while (y < height) {
      val ftype = y % 5
      filtered(y * (1 + rowLen)) = ftype.toByte
      filterRow(ftype, samples, y * rowLen,
        if (y == 0) -1 else (y - 1) * rowLen, rowLen, channels,
        filtered, y * (1 + rowLen) + 1)
      y += 1
    }
    val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION)
    deflater.setInput(filtered)
    deflater.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) {
      val n = deflater.deflate(tmp)
      zbuf.write(tmp, 0, n)
    }
    deflater.end()
    val colorType = if (channels == 3) 2 else 0
    val ihdr = be32(width.toLong) ++ be32(height.toLong) ++
      Array[Byte](8, colorType.toByte, 0, 0, 0)
    Signature ++ chunk("IHDR", ihdr) ++ chunk("IDAT", zbuf.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** [[encodePng]] with tEXt metadata chunks (keyword, NUL, value —
    * Latin-1 per spec) inserted between IHDR and IDAT. Ancillary chunks
    * carry sidecar metadata INSIDE the container — the multimodal
    * pipeline's "typed metadata travels with the payload" contract. */
  def encodePngWithText(width: Int, height: Int, channels: Int,
      samples: Array[Byte], meta: Seq[(String, String)]): Array[Byte] = {
    val plain = encodePng(width, height, channels, samples)
    val ihdrEnd = 8 + 12 + 13 // signature + IHDR framing + IHDR payload
    val textChunks = meta.flatMap { case (k, v) =>
      require(k.nonEmpty && k.length <= 79, s"png: bad tEXt keyword '$k'")
      chunk("tEXt",
        k.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++
          Array[Byte](0) ++
          v.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    }.toArray
    plain.take(ihdrEnd) ++ textChunks ++ plain.drop(ihdrEnd)
  }

  /** Extract the value of the first tEXt chunk whose keyword is `key`
    * (null if absent). Verifies the signature and each visited chunk's
    * CRC — corrupt metadata fails as loudly as corrupt pixels. */
  def textChunkValue(b: Array[Byte], key: String): String = {
    require(sniff(b), "png: bad signature")
    var pos = 8
    while (b.length - pos >= 12) {
      val len = beI32(b, pos)
      require(len <= Int.MaxValue - 12 && b.length - pos - 12 >= len,
        s"png: chunk length $len overruns payload")
      val ctype = new String(b, pos + 4, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      val dataOff = pos + 8
      val crc = new CRC32()
      crc.update(b, pos + 4, 4 + len.toInt)
      require(crc.getValue == beI32(b, dataOff + len.toInt),
        s"png: CRC mismatch in $ctype chunk")
      if (ctype == "tEXt") {
        var nul = dataOff
        val end = dataOff + len.toInt
        while (nul < end && b(nul) != 0) nul += 1
        val k = new String(b, dataOff, nul - dataOff,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        if (k == key && nul < end)
          return new String(b, nul + 1, end - nul - 1,
            java.nio.charset.StandardCharsets.ISO_8859_1)
      }
      if (ctype == "IEND") return null
      pos = dataOff + len.toInt + 4
    }
    null
  }

  /** The [[PngExprs]] call targets. */
  def encodeGrayWithMeta(text: org.apache.spark.unsafe.types.UTF8String,
      lang: org.apache.spark.unsafe.types.UTF8String,
      source: org.apache.spark.unsafe.types.UTF8String,
      width: Int, height: Int): Array[Byte] =
    encodePngWithText(width, height, 1,
      ImageCodec.textRaster(text.toString, width * height),
      Seq("lang" -> lang.toString, "source" -> source.toString))

  def textValueUtf8(bytes: Array[Byte],
      key: String): org.apache.spark.unsafe.types.UTF8String = {
    val v = textChunkValue(bytes, key)
    if (v == null) null
    else org.apache.spark.unsafe.types.UTF8String.fromString(v)
  }

  // ── decoder ─────────────────────────────────────────────────────────────

  private def beI32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  def decodePng(b: Array[Byte]): DecodedImage = {
    require(sniff(b), "png: bad signature")
    var pos = 8
    var width = 0; var height = 0; var channels = 0
    var sawIhdr = false; var sawIend = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!sawIend) {
      require(b.length - pos >= 12, s"png: truncated chunk at byte $pos")
      val len = beI32(b, pos)
      require(len <= Int.MaxValue - 12 && b.length - pos - 12 >= len,
        s"png: chunk length $len overruns payload")
      val ctype = new String(b, pos + 4, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      val dataOff = pos + 8
      val crcStored = beI32(b, dataOff + len.toInt)
      val crc = new CRC32()
      crc.update(b, pos + 4, 4 + len.toInt)
      require(crc.getValue == crcStored,
        s"png: CRC mismatch in $ctype chunk (stored $crcStored, computed ${crc.getValue})")
      ctype match {
        case "IHDR" =>
          require(!sawIhdr, "png: duplicate IHDR")
          require(len == 13, s"png: IHDR length $len, want 13")
          width = beI32(b, dataOff).toInt
          height = beI32(b, dataOff + 4).toInt
          require(width > 0 && height > 0, s"png: bad dims ${width}x$height")
          val bitDepth = b(dataOff + 8) & 0xff
          require(bitDepth == 8, s"png: only bit depth 8 supported, got $bitDepth")
          val colorType = b(dataOff + 9) & 0xff
          channels = colorType match {
            case 0 => 1
            case 2 => 3
            case other => throw new IllegalArgumentException(
              s"png: only color types 0 (gray) / 2 (RGB) supported, got $other")
          }
          require((b(dataOff + 10) & 0xff) == 0, "png: bad compression method")
          require((b(dataOff + 11) & 0xff) == 0, "png: bad filter method")
          require((b(dataOff + 12) & 0xff) == 0,
            "png: interlaced (Adam7) images unsupported")
          sawIhdr = true
        case "IDAT" =>
          require(sawIhdr, "png: IDAT before IHDR")
          idat.write(b, dataOff, len.toInt)
        case "IEND" =>
          require(len == 0, "png: non-empty IEND")
          sawIend = true
        case other =>
          // ancillary chunks (tEXt, tIME, …) are legal — skip; unknown
          // CRITICAL chunks (uppercase first letter) must fail loudly
          require(other.nonEmpty && other.charAt(0).isLower,
            s"png: unsupported critical chunk $other")
      }
      pos = dataOff + len.toInt + 4
    }
    require(sawIhdr, "png: missing IHDR")
    val rowLen = width * channels
    val expect = height * (1 + rowLen)
    val raw = new Array[Byte](expect)
    val inflater = new Inflater()
    inflater.setInput(idat.toByteArray)
    var got = 0
    try {
      while (got < expect && !inflater.finished()) {
        val n = inflater.inflate(raw, got, expect - got)
        require(n > 0 || inflater.finished(),
          "png: zlib stream stalled (truncated or corrupt IDAT)")
        got += n
      }
    } catch {
      // normalize to the codec family's failure contract (tryStatsRow
      // absorbs IllegalArgumentException, nothing else)
      case e: java.util.zip.DataFormatException =>
        inflater.end()
        throw new IllegalArgumentException(s"png: corrupt zlib stream: ${e.getMessage}")
    }
    val trailing = !inflater.finished() && {
      val probe = new Array[Byte](1)
      try inflater.inflate(probe) > 0
      catch { case _: java.util.zip.DataFormatException => true }
    }
    inflater.end()
    require(got == expect && !trailing,
      s"png: inflated size mismatch (got $got, want $expect)")
    // unfilter in place: each row depends only on the already-raw prior row
    var y = 0
    while (y < height) {
      val ftype = raw(y * (1 + rowLen)) & 0xff
      unfilterRow(ftype, raw, y * (1 + rowLen) + 1,
        if (y == 0) -1 else (y - 1) * (1 + rowLen) + 1, rowLen, channels)
      y += 1
    }
    val px = new Array[Int](height * rowLen)
    y = 0
    while (y < height) {
      var x = 0
      while (x < rowLen) {
        px(y * rowLen + x) = raw(y * (1 + rowLen) + 1 + x) & 0xff
        x += 1
      }
      y += 1
    }
    DecodedImage(width, height, channels, px)
  }
}

/** Column-API face for the PNG metadata expressions. */
object PngExprs {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.types.{BinaryType, StringType}
  /** Text + (lang, source) metadata → PNG-gray payload with tEXt chunks
    * ([[PngCodec.encodeGrayWithMeta]]). */
  def encodePngGrayWithMeta(text: Column, lang: Column, source: Column,
      width: Int, height: Int): Column =
    Native.call("encode_png_with_meta", PngCodec, "encodeGrayWithMeta",
      BinaryType, Seq(width, height))(text, lang, source)
  /** PNG payload → value of the tEXt chunk with keyword `key` (null when
    * absent); [[PngCodec.textValueUtf8]], CRC-checked. */
  def pngTextValue(payload: Column, key: String): Column =
    Native.call("png_text_value", PngCodec, "textValueUtf8",
      StringType, Seq(key), returnNullable = true)(payload)
}
