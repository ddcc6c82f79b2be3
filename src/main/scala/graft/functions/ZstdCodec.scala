package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Pure-JVM Zstandard frame codec (RFC 8878) for RAW and RLE blocks,
  * plus xxHash64 — the third shard codec next to [[ShardCodec]] (gzip)
  * and [[Lz4Codec]]/[[SnappyCodec]]: zstd is the modern corpus default
  * (HuggingFace datasets, Common Crawl WET mirrors, parquet zstd).
  *
  * Scope, stated plainly: the ENCODER emits spec-valid frames using
  * Raw_Block and RLE_Block only (both fully legal per RFC 8878 §3.1.1.2
  * — any conformant decoder accepts them); the DECODER handles those
  * two types and REJECTS Compressed_Block loudly — FSE/Huffman entropy
  * decoding is out of scope the same way H.264/MP3 SAMPLE decode is,
  * and the seam is labeled here rather than hidden. Everything else is
  * real and verified: magic, frame-header descriptor parsing (FCS
  * size flags, single-segment, checksum, dict-id fields), window
  * descriptor, 3-byte block headers (last-block bit, type, 21-bit
  * size), frame-content-size cross-check, and the trailing
  * content checksum = low 32 bits of xxHash64(content, seed 0).
  *
  * xxHash64 follows the same public spec as [[Lz4Codec]]'s xxh32
  * (xxhash_spec.md; the `xxh64("") = 0xEF46DB3751D8E999` vector is
  * pinned in ZstdCodecSpec).
  *
  * Reference scope: beyond-reference LLM-pipeline surface per the
  * build brief (/root/reference/tools.py reads plain CSV/JSON only).
  */
object ZstdCodec {

  // ── xxHash64 (spec constants) ───────────────────────────────────────
  private val P1 = 0x9E3779B185EBCA87L
  private val P2 = 0xC2B2AE3D27D4EB4FL
  private val P3 = 0x165667B19E3779F9L
  private val P4 = 0x85EBCA77C2B2AE63L
  private val P5 = 0x27D4EB2F165667C5L

  private def rotl(x: Long, r: Int): Long = java.lang.Long.rotateLeft(x, r)

  private def le64(b: Array[Byte], i: Int): Long = {
    var v = 0L
    var k = 0
    while (k < 8) { v |= (b(i + k).toLong & 0xFF) << (8 * k); k += 1 }
    v
  }
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) |
      ((b(i + 2) & 0xFF) << 16) | ((b(i + 3) & 0xFF) << 24)

  /** xxHash64 over `b[off, off+len)` with the given seed. */
  def xxh64(b: Array[Byte], off: Int, len: Int, seed: Long): Long = {
    var i = off
    val end = off + len
    var h =
      if (len >= 32) {
        var v1 = seed + P1 + P2
        var v2 = seed + P2
        var v3 = seed
        var v4 = seed - P1
        val limit = end - 32
        while (i <= limit) {
          v1 = rotl(v1 + le64(b, i) * P2, 31) * P1; i += 8
          v2 = rotl(v2 + le64(b, i) * P2, 31) * P1; i += 8
          v3 = rotl(v3 + le64(b, i) * P2, 31) * P1; i += 8
          v4 = rotl(v4 + le64(b, i) * P2, 31) * P1; i += 8
        }
        var acc = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
        def merge(acc0: Long, v: Long): Long =
          (acc0 ^ (rotl(v * P2, 31) * P1)) * P1 + P4
        acc = merge(acc, v1); acc = merge(acc, v2)
        acc = merge(acc, v3); acc = merge(acc, v4)
        acc
      } else seed + P5
    h += len
    while (i + 8 <= end) {
      h = rotl(h ^ (rotl(le64(b, i) * P2, 31) * P1), 27) * P1 + P4
      i += 8
    }
    if (i + 4 <= end) {
      h = rotl(h ^ ((le32(b, i).toLong & 0xFFFFFFFFL) * P1), 23) * P2 + P3
      i += 4
    }
    while (i < end) {
      h = rotl(h ^ ((b(i) & 0xFFL) * P5), 11) * P1
      i += 1
    }
    h ^= h >>> 33; h *= P2
    h ^= h >>> 29; h *= P3
    h ^= h >>> 32
    h
  }

  def xxh64(b: Array[Byte], seed: Long): Long = xxh64(b, 0, b.length, seed)

  // ── frame writer ────────────────────────────────────────────────────
  private val Magic = 0xFD2FB528
  private val MinRleRun = 32 // runs at least this long become RLE blocks
  private val MaxBlock = 64 * 1024

  /** Wrap raw bytes in a zstd frame: single-segment, 4-byte FCS,
    * content checksum; maximal byte runs ≥ 32 become RLE blocks, the
    * rest RAW blocks. */
  def compressFrame(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length + 64)
    def w8(v: Int): Unit = out.write(v & 0xFF)
    def w32(v: Int): Unit = { w8(v); w8(v >> 8); w8(v >> 16); w8(v >> 24) }
    w32(Magic)
    // descriptor: FCS flag 10 (4-byte FCS), single-segment=1,
    // checksum=1, no dict → 0b10100100
    w8((2 << 6) | (1 << 5) | (1 << 2))
    w32(raw.length) // frame content size (4 bytes under FCS flag 10)
    def blockHeader(last: Boolean, tpe: Int, size: Int): Unit = {
      val v = (if (last) 1 else 0) | (tpe << 1) | (size << 3)
      w8(v); w8(v >> 8); w8(v >> 16)
    }
    // plan the block sequence first so exactly the FINAL block carries
    // the last-block bit (runs ≥ MinRleRun → RLE, everything else RAW)
    val n = raw.length
    val segs = new scala.collection.mutable.ArrayBuffer[(Boolean, Int, Int)]
    var i = 0
    var rawStart = 0
    while (i < n) {
      var j = i + 1
      while (j < n && raw(j) == raw(i)) j += 1
      if (j - i >= MinRleRun) {
        var a = rawStart
        while (a < i) {
          val len = math.min(MaxBlock, i - a)
          segs += ((false, a, len)); a += len
        }
        var b = i
        while (b < j) {
          val len = math.min(0x1FFFFF, j - b) // 21-bit block size cap
          segs += ((true, b, len)); b += len
        }
        rawStart = j
      }
      i = j
    }
    var a = rawStart
    while (a < n) {
      val len = math.min(MaxBlock, n - a)
      segs += ((false, a, len)); a += len
    }
    if (segs.isEmpty) segs += ((false, 0, 0)) // empty frame: one empty RAW
    var k = 0
    while (k < segs.length) {
      val (rle, st, len) = segs(k)
      blockHeader(last = k == segs.length - 1, if (rle) 1 else 0, len)
      if (rle) w8(raw(st)) else out.write(raw, st, len)
      k += 1
    }
    val ck = xxh64(raw, 0, raw.length, 0L)
    w32(ck.toInt) // low 32 bits
    out.toByteArray
  }

  /** Parse a zstd frame; throws on bad magic/descriptor/FCS/checksum
    * and on Compressed_Block (out of scope — labeled seam). */
  def decompressFrame(frame: Array[Byte]): Array[Byte] = {
    var i = 0
    def r8(): Int = { val v = frame(i) & 0xFF; i += 1; v }
    def r32(): Int = { r8() | (r8() << 8) | (r8() << 16) | (r8() << 24) }
    if (r32() != Magic) throw new IllegalArgumentException("zstd: bad magic")
    val desc = r8()
    val fcsFlag = (desc >> 6) & 0x3
    val singleSegment = (desc & (1 << 5)) != 0
    val hasChecksum = (desc & (1 << 2)) != 0
    val dictFlag = desc & 0x3
    if (dictFlag != 0) throw new IllegalArgumentException("zstd: dict frames unsupported")
    if (!singleSegment) { r8(); () } // window descriptor
    val contentSize: Long = fcsFlag match {
      case 0 => if (singleSegment) r8().toLong else -1L
      case 1 => (r8() | (r8() << 8)) + 256L
      case 2 => r32().toLong & 0xFFFFFFFFL
      case _ => { val lo = r32().toLong & 0xFFFFFFFFL
        val hi = r32().toLong & 0xFFFFFFFFL; lo | (hi << 32) }
    }
    val out = new java.io.ByteArrayOutputStream(
      if (contentSize >= 0 && contentSize <= (10L << 20)) contentSize.toInt
      else 1 << 16)
    var last = false
    while (!last) {
      val h = r8() | (r8() << 8) | (r8() << 16)
      last = (h & 1) != 0
      val tpe = (h >> 1) & 0x3
      val size = h >>> 3
      tpe match {
        case 0 => // RAW
          out.write(frame, i, size); i += size
        case 1 => // RLE: one byte, regenerated `size` times
          val b = r8()
          var k = 0
          while (k < size) { out.write(b); k += 1 }
        case 2 => throw new IllegalArgumentException(
          "zstd: Compressed_Block (FSE/Huffman) is beyond this decoder's " +
            "labeled scope")
        case _ => throw new IllegalArgumentException("zstd: reserved block type")
      }
    }
    val raw = out.toByteArray
    if (contentSize >= 0 && raw.length != contentSize)
      throw new IllegalArgumentException(
        s"zstd: content size $contentSize != ${raw.length}")
    if (hasChecksum) {
      val ck = r32()
      if (ck != xxh64(raw, 0, raw.length, 0L).toInt)
        throw new IllegalArgumentException("zstd: content checksum mismatch")
    }
    raw
  }

  /** Declared frame content size of one of OUR frames (descriptor
    * 0xA4: single-segment + 4-byte FCS at offset 5). */
  def contentSize(frame: Array[Byte]): Long = {
    require((frame(4) & 0xFF) == ((2 << 6) | (1 << 5) | (1 << 2)),
      "zstd: unexpected descriptor")
    le32(frame, 5).toLong & 0xFFFFFFFFL
  }

  /** string → zstd frame: the [[ZstdExprs.zstdUtf8]] call. */
  def zstdUtf8(s: UTF8String): Array[Byte] = compressFrame(s.getBytes)
  /** zstd frame → string: the [[ZstdExprs.unzstdUtf8]] call. */
  def unzstdUtf8(b: Array[Byte]): UTF8String =
    UTF8String.fromBytes(decompressFrame(b))
}

/** Column faces of [[ZstdCodec]]: one JVM call per row inside
  * whole-stage codegen. */
object ZstdExprs {
  /** string → zstd frame (RAW/RLE blocks, xxh64 checksum). */
  def zstdUtf8(text: Column): Column =
    Native.call("zstd_utf8", ZstdCodec, "zstdUtf8", BinaryType)(text)
  /** zstd frame → string (loud failure on bad magic/FCS/checksum). */
  def unzstdUtf8(payload: Column): Column =
    Native.call("unzstd_utf8", ZstdCodec, "unzstdUtf8", StringType)(payload)
  /** zstd frame → declared frame content size (header field). */
  def zstdContentSize(payload: Column): Column =
    Native.call("zstd_content_size", ZstdCodec, "contentSize", LongType)(payload)
}
