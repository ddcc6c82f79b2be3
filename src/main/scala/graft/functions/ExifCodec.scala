package graft.functions

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** EXIF metadata plane for JPEG payloads — the APP1 segment that carries
  * a little-endian TIFF IFD inside every camera JPEG (EXIF 2.x spec /
  * JEITA CP-3451, public). Ingest pipelines read orientation and capture
  * time BEFORE any pixel work; this codec writes a real APP1 (spliced
  * after SOI) and extracts it back with a real marker walk + IFD parse,
  * while the image decoder must keep skipping the segment untripped.
  *
  * Format facts pinned by spec/oracle:
  *  - APP1 = 0xFFE1, big-endian length, `Exif` + two NUL bytes preamble,
  *    then a self-contained TIFF: `II` 42, IFD offset 8 — all value
  *    OFFSETS are relative to the TIFF header, not the file.
  *  - IFD entries ascending by tag: Make(271, ASCII out-of-line,
  *    NUL-terminated), Orientation(274, SHORT inline), DateTime(306,
  *    ASCII 20 bytes `YYYY:MM:DD HH:MM:SS` + NUL out-of-line).
  *  - The extractor walks markers to SOS only (metadata never requires
  *    an entropy decode) and tolerates JPEGs with no APP1.
  */
object ExifCodec {

  /** `Exif` + two NUL bytes — the APP1 preamble. */
  private val ExifPreamble: Array[Byte] =
    Array('E'.toByte, 'x'.toByte, 'i'.toByte, 'f'.toByte, 0.toByte, 0.toByte)

  private def put16le(out: Array[Byte], p: Int, v: Int): Unit = {
    out(p) = v.toByte; out(p + 1) = (v >>> 8).toByte
  }
  private def put32le(out: Array[Byte], p: Int, v: Int): Unit = {
    put16le(out, p, v & 0xffff); put16le(out, p + 2, v >>> 16)
  }
  private def u16le(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def u32le(b: Array[Byte], off: Int): Int =
    u16le(b, off) | (u16le(b, off + 2) << 16)

  private def asciiz(s: String): Array[Byte] =
    s.getBytes(US_ASCII) :+ 0.toByte

  /** APP1 segment body (after the 2-byte length): Exif preamble + TIFF. */
  def buildApp1Body(make: String, orientation: Int, dateTime: String): Array[Byte] = {
    require(dateTime.length == 19, s"exif: DateTime '$dateTime' not 19 chars")
    val makeB = asciiz(make)
    val dtB = asciiz(dateTime)
    val ifdAt = 8
    val makeAt = ifdAt + 2 + 3 * 12 + 4
    val dtAt = makeAt + makeB.length
    val tiffLen = dtAt + dtB.length
    val tiff = new Array[Byte](tiffLen)
    tiff(0) = 'I'; tiff(1) = 'I'; put16le(tiff, 2, 42); put32le(tiff, 4, ifdAt)
    var q = ifdAt
    put16le(tiff, q, 3); q += 2
    def entry(tag: Int, typ: Int, count: Int, value: Int): Unit = {
      put16le(tiff, q, tag); put16le(tiff, q + 2, typ)
      put32le(tiff, q + 4, count); put32le(tiff, q + 8, value); q += 12
    }
    entry(271, 2, makeB.length, makeAt) // Make, ASCII
    entry(274, 3, 1, orientation) // Orientation, SHORT (inline)
    entry(306, 2, dtB.length, dtAt) // DateTime, ASCII
    put32le(tiff, q, 0) // next IFD
    System.arraycopy(makeB, 0, tiff, makeAt, makeB.length)
    System.arraycopy(dtB, 0, tiff, dtAt, dtB.length)
    ExifPreamble ++ tiff
  }

  /** Insert an APP1 segment immediately after SOI. */
  def spliceApp1(jpeg: Array[Byte], body: Array[Byte]): Array[Byte] = {
    require(jpeg.length >= 2 && (jpeg(0) & 0xff) == 0xff &&
      (jpeg(1) & 0xff) == 0xd8, "exif: not a JPEG (no SOI)")
    val segLen = body.length + 2
    val out = new Array[Byte](jpeg.length + 4 + body.length)
    out(0) = jpeg(0); out(1) = jpeg(1)
    out(2) = 0xff.toByte; out(3) = 0xe1.toByte
    out(4) = (segLen >>> 8).toByte; out(5) = segLen.toByte
    System.arraycopy(body, 0, out, 6, body.length)
    System.arraycopy(jpeg, 2, out, 6 + body.length, jpeg.length - 2)
    out
  }

  /** Extracted metadata + marker-walk facts. Orientation −1 / empty
    * strings when no APP1 Exif segment exists. */
  final case class ExifInfo(orientation: Int, make: String, dateTime: String,
      app1Bytes: Int, nSegments: Int)

  private def hasPreamble(jpeg: Array[Byte], at: Int): Boolean = {
    var k = 0
    while (k < ExifPreamble.length) {
      if (jpeg(at + k) != ExifPreamble(k)) return false
      k += 1
    }
    true
  }

  /** Walk JPEG markers to SOS; parse the first APP1 `Exif` TIFF found. */
  def extract(jpeg: Array[Byte]): ExifInfo = {
    require(jpeg.length >= 2 && (jpeg(0) & 0xff) == 0xff &&
      (jpeg(1) & 0xff) == 0xd8, "exif: not a JPEG (no SOI)")
    var pos = 2
    var orientation = -1
    var make = ""
    var dateTime = ""
    var app1Bytes = 0
    var nSegments = 0
    var done = false
    while (!done) {
      require(pos + 4 <= jpeg.length, "exif: truncated marker stream")
      require((jpeg(pos) & 0xff) == 0xff, s"exif: expected marker at $pos")
      val m = jpeg(pos + 1) & 0xff
      pos += 2
      if (m == 0xd8 || m == 0x01) () // standalone
      else {
        val len = ((jpeg(pos) & 0xff) << 8) | (jpeg(pos + 1) & 0xff)
        require(len >= 2 && pos + len <= jpeg.length,
          f"exif: segment 0xFF$m%02X overruns payload")
        nSegments += 1
        if (m == 0xda) done = true // SOS: metadata plane ends here
        else {
          if (m == 0xe1 && len >= 8 + 6 && hasPreamble(jpeg, pos + 2)) {
            app1Bytes = len
            val t = java.util.Arrays.copyOfRange(jpeg, pos + 8, pos + len)
            require(t.length >= 8 && t(0) == 'I' && t(1) == 'I' &&
              u16le(t, 2) == 42, "exif: APP1 TIFF header not II/42")
            val ifdAt = u32le(t, 4)
            val n = u16le(t, ifdAt)
            var i = 0
            while (i < n) {
              val e = ifdAt + 2 + 12 * i
              val tag = u16le(t, e)
              val typ = u16le(t, e + 2)
              val count = u32le(t, e + 4)
              tag match {
                case 271 if typ == 2 =>
                  make = new String(t, u32le(t, e + 8), count - 1, US_ASCII)
                case 274 if typ == 3 => orientation = u16le(t, e + 8)
                case 306 if typ == 2 =>
                  dateTime = new String(t, u32le(t, e + 8), count - 1, US_ASCII)
                case _ => () // other EXIF tags — walked over
              }
              i += 1
            }
          }
          pos += len
        }
      }
    }
    ExifInfo(orientation, make, dateTime, app1Bytes, nSegments)
  }

  /** Deterministic planted metadata for doc `id` — the closed form the
    * oracle replays: orientation 1 + (id mod 8), make `graft-cam-<id mod
    * 5>`, capture time spread over six years with second resolution. */
  def plantedMake(id: Long): String = s"graft-cam-${id % 5}"
  def plantedOrientation(id: Long): Int = (1 + id % 8).toInt
  def plantedDateTime(id: Long): String = {
    val secs = id * 7919 % 86400
    f"${2020 + id % 6}:${1 + id % 12}%02d:${1 + id % 28}%02d " +
      f"${secs / 3600}%02d:${secs % 3600 / 60}%02d:${secs % 60}%02d"
  }

  /** Static forwarder: gray fixture JPEG (JpegCodec) + planted APP1. */
  def encodeFromText(text: UTF8String, id: Long, blocksW: Int, blocksH: Int,
      quality: Int): Array[Byte] = {
    val jpeg = JpegCodec.encodeGrayBlocksJpeg(text, blocksW, blocksH, quality)
    spliceApp1(jpeg, buildApp1Body(plantedMake(id), plantedOrientation(id),
      plantedDateTime(id)))
  }

  /** Static forwarder for codegen: payload → one stats row. */
  def extractRow(bytes: Array[Byte]): InternalRow = {
    val info = extract(bytes)
    InternalRow(info.orientation, UTF8String.fromString(info.make),
      UTF8String.fromString(info.dateTime), info.app1Bytes, info.nSegments)
  }

  val infoSchema: StructType = StructType(Seq(
    StructField("orientation", IntegerType, nullable = false),
    StructField("make", StringType, nullable = false),
    StructField("datetime", StringType, nullable = false),
    StructField("app1_bytes", IntegerType, nullable = false),
    StructField("n_segments", IntegerType, nullable = false)))
}

/** Column-API face for the EXIF plane. */
object ExifExprs {
  /** (text, doc_id) → gray fixture JPEG with a planted APP1 Exif block. */
  def encodeJpegWithExif(text: Column, id: Column, blocksW: Int, blocksH: Int,
      quality: Int): Column =
    Native.call("encode_jpeg_with_exif", ExifCodec, "encodeFromText",
      BinaryType, Seq(blocksW, blocksH, quality))(text, id)

  /** JPEG payload → EXIF metadata struct (marker walk to SOS, IFD parse). */
  def extract(payload: Column): Column =
    Native.call("exif_extract", ExifCodec, "extractRow", ExifCodec.infoSchema)(payload)
}
