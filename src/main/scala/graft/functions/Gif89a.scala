package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Animated GIF89a — the animation plane on top of [[GifCodec]]'s LZW
  * (which that file owns in both directions): web corpora are full of
  * animated GIFs, and a multimodal pipeline needs the frame timeline
  * (delays, loop count, disposal) the same way video needs m12's frame
  * sampling.
  *
  * Real per the GIF89a specification:
  *  - `GIF89a` signature + logical screen descriptor + global table;
  *  - the NETSCAPE 2.0 application extension carrying the loop count
  *    (the de-facto standard every browser honors);
  *  - one Graphic Control Extension (0x21 0xF9) per frame: disposal
  *    method, transparency flag, delay in centiseconds;
  *  - per-frame image descriptors with their own offsets/sizes, each
  *    frame's raster LZW-coded through the SAME coder the single-frame
  *    path uses;
  *  - comment extensions skipped via sub-block walking.
  *
  * The deterministic fixture animates a doc_id-ruled gradient; the m53
  * oracle replays frame counts, the delay timeline, loop count and
  * first/last-frame pixel sums closed-form.
  */
object Gif89a {

  /** Fixture rules (oracle-replayed): nFrames = 2 + doc_id % 3; frame
    * j is 8×8 with pixel(p) = (doc_id + j * 17 + p) % 251; delay =
    * 10 * (1 + j % 4) cs; disposal = 1 + j % 2; loop = doc_id % 5. */
  def encode(docId: Long): Array[Byte] = {
    val n = (2 + docId % 3).toInt
    val out = new java.io.ByteArrayOutputStream(1024)
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes("US-ASCII"))
    u16(8); u16(8)
    out.write(0xf7); out.write(0); out.write(0)
    var i = 0
    while (i < 256) { out.write(i); out.write(i); out.write(i); i += 1 }
    // NETSCAPE 2.0 looping extension
    out.write(0x21); out.write(0xff); out.write(11)
    out.write("NETSCAPE2.0".getBytes("US-ASCII"))
    out.write(3); out.write(1); u16((docId % 5).toInt); out.write(0)
    // a comment extension the parser must skip
    out.write(0x21); out.write(0xfe)
    val comment = s"graft fixture $docId".getBytes("US-ASCII")
    out.write(comment.length); out.write(comment); out.write(0)
    var j = 0
    while (j < n) {
      // Graphic Control Extension
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write((1 + j % 2) << 2) // disposal method, no transparency
      u16(10 * (1 + j % 4)) // delay, centiseconds
      out.write(0) // transparent color index (unused)
      out.write(0) // block terminator
      // image descriptor + LZW raster
      out.write(0x2c)
      u16(0); u16(0); u16(8); u16(8)
      out.write(0)
      out.write(8) // LZW min code size
      val px = new Array[Byte](64)
      var p = 0
      while (p < 64) { px(p) = ((docId + j * 17 + p) % 251).toByte; p += 1 }
      val codes = GifCodec.lzwCompress(px)
      var off = 0
      while (off < codes.length) {
        val len = math.min(255, codes.length - off)
        out.write(len); out.write(codes, off, len); off += len
      }
      out.write(0)
      j += 1
    }
    out.write(0x3b)
    out.toByteArray
  }

  val schema: StructType = StructType(Seq(
    StructField("n_frames", IntegerType, nullable = false),
    StructField("loop_count", IntegerType, nullable = false),
    StructField("total_delay_cs", LongType, nullable = false),
    StructField("max_delay_cs", IntegerType, nullable = false),
    StructField("n_disposal_bg", IntegerType, nullable = false),
    StructField("first_frame_sum", LongType, nullable = false),
    StructField("last_frame_sum", LongType, nullable = false),
    StructField("n_comments", IntegerType, nullable = false)))

  /** Walk an animated GIF: frame/GCE/extension census + decoded
    * first/last frame pixel sums (through the real LZW). */
  def census(b: Array[Byte]): InternalRow = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"gif89a: $msg")
    if (!GifCodec.sniff(b)) fail("bad signature")
    var i = 6
    def u8(): Int = { val v = b(i) & 0xff; i += 1; v }
    def u16(): Int = { val lo = u8(); val hi = u8(); lo | (hi << 8) }
    val sw = u16(); val sh = u16()
    val flags = u8(); u8(); u8()
    if ((flags & 0x80) != 0) i += 3 * (2 << (flags & 7)) // skip GCT
    var nFrames = 0; var loop = -1; var totalDelay = 0L; var maxDelay = 0
    var disposalBg = 0; var comments = 0
    var firstSum = -1L; var lastSum = 0L
    var pendingDelay = 0; var pendingDisposal = 0
    def skipSubBlocks(): Unit = {
      var len = u8()
      while (len != 0) { i += len; len = u8() }
    }
    var done = false
    while (!done) {
      u8() match {
        case 0x3b => done = true
        case 0x21 => // extension
          u8() match {
            case 0xf9 => // Graphic Control Extension
              val sz = u8(); require(sz == 4, "bad GCE size")
              val packed = u8()
              pendingDisposal = (packed >> 2) & 0x7
              pendingDelay = u16()
              u8() // transparent index
              val term = u8(); require(term == 0, "bad GCE terminator")
            case 0xff => // application extension
              val sz = u8()
              val app = new String(b, i, sz, "US-ASCII"); i += sz
              if (app.startsWith("NETSCAPE")) {
                val dl = u8()
                if (dl >= 3) { u8(); loop = u16(); i += dl - 3 } else i += dl
                skipSubBlocks()
              } else skipSubBlocks()
            case 0xfe => comments += 1; skipSubBlocks()
            case _ => skipSubBlocks()
          }
        case 0x2c => // image descriptor
          u16(); u16()
          val w = u16(); val h = u16()
          val lflags = u8()
          if ((lflags & 0x80) != 0) i += 3 * (2 << (lflags & 7))
          u8() // LZW min code size
          val codes = new java.io.ByteArrayOutputStream(w * h)
          var len = u8()
          while (len != 0) { codes.write(b, i, len); i += len; len = u8() }
          val px = GifCodec.lzwDecompress(codes.toByteArray, w * h)
          var sum = 0L
          var p = 0
          while (p < px.length) { sum += px(p) & 0xff; p += 1 }
          nFrames += 1
          totalDelay += pendingDelay
          maxDelay = math.max(maxDelay, pendingDelay)
          if (pendingDisposal == 2) disposalBg += 1
          if (firstSum < 0) firstSum = sum
          lastSum = sum
        case other => fail(f"unexpected block 0x$other%02x")
      }
    }
    require(sw == 8 && sh == 8, "fixture screen must be 8x8")
    InternalRow(nFrames, loop, totalDelay, maxDelay, disposalBg,
      math.max(firstSum, 0L), lastSum, comments)
  }
}

/** Column-API face. */
object Gif89aExprs {
  /** doc_id → deterministic animated GIF89a. */
  def animGifFromId(docId: Column): Column =
    Native.call("animgif_from_id", Gif89a, "encode", BinaryType)(docId)
  /** animated GIF bytes → frame/timeline census. */
  def animGifCensus(payload: Column): Column =
    Native.call("animgif_census", Gif89a, "census", Gif89a.schema)(payload)
}
