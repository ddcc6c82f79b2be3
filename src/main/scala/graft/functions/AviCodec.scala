package graft.functions

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pure-JVM AVI (RIFF) container with an MJPEG video stream — REAL
  * compressed-VIDEO decode built on the round-12 [[JpegCodec]]: every
  * frame inside the container is a genuine baseline JFIF bitstream, and
  * the decoder walks the real container structure to find, decode, and
  * order them. MJPEG-in-AVI is the lingua franca of webcams, capture
  * cards, and digital microscopes, so a 100-TB multimodal crawl sees it
  * constantly; with this, only the inter-frame-prediction codecs
  * (H.264) and perceptual audio (MP3) remain behind the labeled stub.
  *
  * Container facts the decoder must get right (public MSDN "AVI RIFF
  * File Reference" layout; specs/oracle pin each):
  * `RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf)) JUNK
  * LIST('movi' '00dc'…) idx1)` — the main header (`avih`, 56 bytes)
  * carries dwTotalFrames/dwStreams/dwWidth/dwHeight; the stream header
  * (`strh`) declares fccType `vids`, handler `MJPG`, and dwLength in
  * frames; frames live in the `movi` LIST as `00dc` chunks whose sizes
  * are ODD whenever the JPEG payload is (the RIFF pad rule is therefore
  * actually exercised — a decoder that forgets `size & 1` desyncs on
  * the second frame); `idx1` and the planted `JUNK` must be walked
  * over, not assumed absent.
  *
  * Frame f's image is the [[JpegCodec]] gray block-constant fixture
  * with the block-value rule OFFSET by f — v_f(k) =
  * codepoint(text, (k+f) mod len) mod 256 — so consecutive frames
  * differ (a decoder that returns frame 0 four times fails the gate)
  * while the per-frame lossy chain still collapses to the m42
  * closed-form DC math the oracle replays.
  */
object AviCodec {

  private def putStr(out: Array[Byte], p: Int, s: String): Int = {
    val b = s.getBytes(US_ASCII); System.arraycopy(b, 0, out, p, b.length)
    p + b.length
  }
  private def put16(out: Array[Byte], p: Int, v: Int): Int = {
    out(p) = v.toByte; out(p + 1) = (v >>> 8).toByte; p + 2
  }
  private def put32(out: Array[Byte], p: Int, v: Int): Int =
    put16(out, put16(out, p, v & 0xffff), v >>> 16)

  /** Gray block-constant raster with the frame-offset value rule. */
  private def frameRaster(cps: Array[Int], frame: Int, blocksW: Int,
      blocksH: Int): Array[Byte] = {
    val n = blocksW * blocksH
    val vs = Array.tabulate(n) { k =>
      if (cps.isEmpty) 0 else cps((k + frame) % cps.length) % 256
    }
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

  /** Encode an AVI/MJPEG payload with `frames` block-constant JPEG
    * frames. Real container: avih/strh/strf headers, JUNK before movi,
    * per-frame `00dc` chunks with the RIFF odd-size pad rule, and a
    * trailing idx1 index. */
  def encodeAviMjpeg(text: String, frames: Int, blocksW: Int, blocksH: Int,
      quality: Int): Array[Byte] = {
    require(frames > 0, s"avi: bad frame count $frames")
    val cps = text.codePoints().toArray
    val w = blocksW * 8
    val h = blocksH * 8
    val jpegs = Array.tabulate(frames)(f =>
      JpegCodec.encodeJpeg(w, h, 1, frameRaster(cps, f, blocksW, blocksH),
        quality))

    val aviHdr = 56 // avih payload
    val strh = 56
    val strf = 40 // BITMAPINFOHEADER
    val strlList = 4 + (8 + strh) + (8 + strf)
    val hdrlList = 4 + (8 + aviHdr) + (8 + strlList)
    val junkBody = 10 // even; content zero
    val moviBody = 4 + jpegs.map(j => 8 + j.length + (j.length & 1)).sum
    val idx1Body = frames * 16
    val riffSize = 4 + (8 + hdrlList) + (8 + junkBody) + (8 + moviBody) +
      (8 + idx1Body)
    val out = new Array[Byte](8 + riffSize)
    var p = 0
    p = putStr(out, p, "RIFF"); p = put32(out, p, riffSize)
    p = putStr(out, p, "AVI ")

    p = putStr(out, p, "LIST"); p = put32(out, p, hdrlList)
    p = putStr(out, p, "hdrl")
    p = putStr(out, p, "avih"); p = put32(out, p, aviHdr)
    p = put32(out, p, 40000) // dwMicroSecPerFrame (25 fps)
    p = put32(out, p, 0) // dwMaxBytesPerSec
    p = put32(out, p, 0) // dwPaddingGranularity
    p = put32(out, p, 0x10) // dwFlags: AVIF_HASINDEX
    p = put32(out, p, frames) // dwTotalFrames
    p = put32(out, p, 0) // dwInitialFrames
    p = put32(out, p, 1) // dwStreams
    p = put32(out, p, 0) // dwSuggestedBufferSize
    p = put32(out, p, w)
    p = put32(out, p, h)
    p = put32(out, p, 0); p = put32(out, p, 0)
    p = put32(out, p, 0); p = put32(out, p, 0) // dwReserved[4]

    p = putStr(out, p, "LIST"); p = put32(out, p, strlList)
    p = putStr(out, p, "strl")
    p = putStr(out, p, "strh"); p = put32(out, p, strh)
    p = putStr(out, p, "vids")
    p = putStr(out, p, "MJPG")
    p = put32(out, p, 0) // dwFlags
    p = put16(out, p, 0); p = put16(out, p, 0) // priority, language
    p = put32(out, p, 0) // dwInitialFrames
    p = put32(out, p, 1) // dwScale
    p = put32(out, p, 25) // dwRate
    p = put32(out, p, 0) // dwStart
    p = put32(out, p, frames) // dwLength
    p = put32(out, p, 0) // dwSuggestedBufferSize
    p = put32(out, p, -1) // dwQuality
    p = put32(out, p, 0) // dwSampleSize
    p = put16(out, p, 0); p = put16(out, p, 0) // rcFrame left, top
    p = put16(out, p, w); p = put16(out, p, h)

    p = putStr(out, p, "strf"); p = put32(out, p, strf)
    p = put32(out, p, 40) // biSize
    p = put32(out, p, w)
    p = put32(out, p, h)
    p = put16(out, p, 1) // biPlanes
    p = put16(out, p, 24) // biBitCount
    p = putStr(out, p, "MJPG") // biCompression
    p = put32(out, p, w * h * 3) // biSizeImage
    p = put32(out, p, 0); p = put32(out, p, 0) // XPels, YPels
    p = put32(out, p, 0); p = put32(out, p, 0) // ClrUsed, ClrImportant

    p = putStr(out, p, "JUNK"); p = put32(out, p, junkBody)
    p += junkBody

    p = putStr(out, p, "LIST"); p = put32(out, p, moviBody)
    p = putStr(out, p, "movi")
    val frameOffsets = new Array[Int](frames)
    var f = 0
    while (f < frames) {
      frameOffsets(f) = p - 8 // offset convention: from movi LIST start
      p = putStr(out, p, "00dc"); p = put32(out, p, jpegs(f).length)
      System.arraycopy(jpegs(f), 0, out, p, jpegs(f).length)
      p += jpegs(f).length
      if ((jpegs(f).length & 1) == 1) p += 1 // RIFF pad byte
      f += 1
    }

    p = putStr(out, p, "idx1"); p = put32(out, p, idx1Body)
    f = 0
    while (f < frames) {
      p = putStr(out, p, "00dc")
      p = put32(out, p, 0x10) // AVIIF_KEYFRAME
      p = put32(out, p, frameOffsets(f))
      p = put32(out, p, jpegs(f).length)
      f += 1
    }
    require(p == out.length, s"avi: wrote $p of ${out.length} bytes")
    out
  }

  private def u16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def i32(b: Array[Byte], off: Int): Int =
    u16(b, off) | (u16(b, off + 2) << 16)
  private def tag(b: Array[Byte], off: Int): String =
    new String(b, off, 4, US_ASCII)

  /** Decode an AVI/MJPEG payload to per-frame luma sums, in stream
    * order. Walks the top-level RIFF chunks to the `movi` LIST (JUNK,
    * hdrl, idx1 all skipped structurally), honors the odd-size pad rule
    * on every subchunk, decodes each `00dc` frame through the real
    * [[JpegCodec]] path, and cross-checks the frame count against the
    * avih header. */
  def decodeFrameLumaSums(b: Array[Byte]): Array[Long] = {
    require(b.length >= 12 && tag(b, 0) == "RIFF" && tag(b, 8) == "AVI ",
      "avi: not a RIFF/AVI payload")
    var off = 12
    var moviOff = -1
    var moviEnd = -1
    var totalFrames = -1
    while (off + 8 <= b.length) {
      val t = tag(b, off)
      val sz = i32(b, off + 4)
      if (t == "LIST") {
        val lt = tag(b, off + 8)
        if (lt == "movi") { moviOff = off + 12; moviEnd = off + 8 + sz }
        else if (lt == "hdrl") {
          // avih is the first subchunk of hdrl; dwTotalFrames at +16
          require(tag(b, off + 12) == "avih", "avi: hdrl must open with avih")
          totalFrames = i32(b, off + 12 + 8 + 16)
        }
      }
      off += 8 + sz + (sz & 1)
    }
    require(moviOff >= 0, "avi: missing movi LIST")
    require(totalFrames >= 0, "avi: missing avih header")
    val sums = scala.collection.mutable.ArrayBuffer.empty[Long]
    var p = moviOff
    while (p + 8 <= moviEnd) {
      val t = tag(b, p)
      val sz = i32(b, p + 4)
      if (t == "00dc") {
        val jpeg = java.util.Arrays.copyOfRange(b, p + 8, p + 8 + sz)
        val img = JpegCodec.decodeJpeg(jpeg)
        var s = 0L
        var i = 0
        while (i < img.pixels.length) { s += img.pixels(i); i += 1 }
        sums += s
      }
      p += 8 + sz + (sz & 1)
    }
    require(sums.length == totalFrames,
      s"avi: movi has ${sums.length} frames, avih declared $totalFrames")
    sums.toArray
  }

  /** Static forwarder: text → AVI/MJPEG payload. */
  def encodeFromText(text: UTF8String, frames: Int, blocksW: Int,
      blocksH: Int, quality: Int): Array[Byte] =
    encodeAviMjpeg(text.toString, frames, blocksW, blocksH, quality)

  /** Static forwarder for codegen: payload → per-frame luma sums. */
  def frameLumaSumsArray(bytes: Array[Byte])
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val s = decodeFrameLumaSums(bytes)
    val out = new Array[Any](s.length)
    var i = 0
    while (i < s.length) { out(i) = Long.box(s(i)); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Column-API face for the AVI/MJPEG codec. */
object AviExprs {
  /** Text → AVI/MJPEG payload ([[AviCodec.encodeFromText]]). */
  def encodeAviMjpeg(text: Column, frames: Int, blocksW: Int, blocksH: Int,
      quality: Int): Column =
    Native.call("encode_avi_mjpeg_fixture", AviCodec, "encodeFromText",
      BinaryType, Seq(frames, blocksW, blocksH, quality))(text)

  /** AVI/MJPEG payload → per-frame decoded luma sums as array<long>. */
  def frameLumaSums(payload: Column): Column =
    Native.call("avi_frame_luma_sums", AviCodec, "frameLumaSumsArray",
      ArrayType(LongType, containsNull = false))(payload)
}
