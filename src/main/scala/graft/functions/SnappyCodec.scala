package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Pure-JVM Snappy (raw block format) codec — the other half of the
  * Hadoop-ecosystem shard-codec pair next to [[Lz4Codec]]: parquet and
  * sequence files default to Snappy in most distributions, so a
  * training-data pipeline that audits foreign shards must parse it.
  * Implemented from the public format description
  * (https://github.com/google/snappy/blob/main/format_description.txt):
  *
  *  - preamble: varint-encoded (LE base-128) uncompressed length;
  *  - elements: 2-bit tag — 00 literal (6-bit length, or 60..63 →
  *    1..4 extra little-endian length bytes), 01 copy with 3-bit
  *    length 4..11 and 11-bit offset (3 high bits in the tag), 10 copy
  *    with 6-bit length and 16-bit LE offset, 11 copy with 32-bit LE
  *    offset (legal format; our encoder never needs it);
  *  - offsets may be smaller than lengths (overlapping RLE copy), and a
  *    stream is malformed if a copy reaches before the output start.
  *
  * The compressor is a greedy 4-byte hash matcher like the reference C++
  * (64-byte literal fragmentation left to the emit helpers). Same gating
  * policy as Lz4Codec/ShardCodec: round trips are oracle-gated via md5
  * byte-identity, compressed lengths are spec-pinned only.
  *
  * Reference scope: beyond-reference LLM-pipeline surface per the build
  * brief (/root/reference/tools.py:22-41 reads plain CSV/JSON only).
  */
object SnappyCodec {

  private val MinMatch = 4
  private val HashLog = 14

  private def hash4(v: Int): Int = (v * -1640531535) >>> (32 - HashLog)

  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) |
      ((b(i + 2) & 0xFF) << 16) | ((b(i + 3) & 0xFF) << 24)

  /** Compress `src` into the raw Snappy block format. */
  def compress(src: Array[Byte]): Array[Byte] = {
    val n = src.length
    val out = new java.io.ByteArrayOutputStream(n / 2 + 32)
    // varint preamble
    var v = n
    while ((v & ~0x7F) != 0) { out.write((v & 0x7F) | 0x80); v >>>= 7 }
    out.write(v)
    def emitLiterals(from: Int, until: Int): Unit = {
      var a = from
      while (a < until) {
        val len = math.min(until - a, 60) // ≤60 keeps the 1-byte tag form
        out.write((len - 1) << 2)
        out.write(src, a, len)
        a += len
      }
    }
    def emitCopy(off: Int, len0: Int): Unit = {
      var len = len0
      // long matches: a 2-byte-offset copy carries ≤64 bytes; the format
      // (unlike the reference ENCODER's own habits) allows 1..64, so the
      // remainder after 64-byte chunks is always encodable
      while (len > 64) { out.write((63 << 2) | 2); out.write(off & 0xFF)
        out.write((off >> 8) & 0xFF); len -= 64 }
      if (len >= 4 && len <= 11 && off < 2048) {
        out.write(1 | ((len - 4) << 2) | ((off >> 8) << 5))
        out.write(off & 0xFF)
      } else {
        out.write(((len - 1) << 2) | 2)
        out.write(off & 0xFF); out.write((off >> 8) & 0xFF)
      }
    }
    val table = new Array[Int](1 << HashLog) // pos+1; 0 = empty
    var anchor = 0
    var i = 0
    val mfEnd = n - MinMatch
    while (i <= mfEnd) {
      val h = hash4(le32(src, i))
      val cand = table(h) - 1
      table(h) = i + 1
      if (cand >= 0 && i - cand <= 0xFFFF && le32(src, cand) == le32(src, i)) {
        var m = MinMatch
        val maxM = n - i
        while (m < maxM && src(cand + m) == src(i + m)) m += 1
        emitLiterals(anchor, i)
        emitCopy(i - cand, m)
        i += m
        anchor = i
      } else i += 1
    }
    emitLiterals(anchor, n)
    out.toByteArray
  }

  /** Decompress a raw Snappy block; throws on malformed tags, offsets,
    * or a length mismatch against the varint preamble. */
  def decompress(src: Array[Byte]): Array[Byte] = {
    var i = 0
    val n = src.length
    // varint preamble
    var expected = 0
    var shift = 0
    var more = true
    while (more) {
      if (i >= n) throw new IllegalArgumentException("snappy: truncated varint")
      val b = src(i) & 0xFF; i += 1
      expected |= (b & 0x7F) << shift; shift += 7
      more = (b & 0x80) != 0
      if (shift > 31) throw new IllegalArgumentException("snappy: varint too long")
    }
    // a 5-byte varint can assemble a value >= 2^31 whose sign bit flips
    // `expected` negative — reject it here instead of surfacing a raw
    // NegativeArraySizeException (round-13 advisory fix: the documented
    // contract is IllegalArgumentException on malformed input)
    if (expected < 0)
      throw new IllegalArgumentException(
        s"snappy: declared length out of Int range")
    val out = new Array[Byte](expected)
    var o = 0
    while (i < n) {
      val tag = src(i) & 0xFF; i += 1
      (tag & 3) match {
        case 0 => // literal
          var len = (tag >>> 2) + 1
          if (len > 60) {
            val extra = len - 60
            if (i + extra > n)
              throw new IllegalArgumentException("snappy: truncated literal length")
            len = 0
            var k = 0
            while (k < extra) { len |= (src(i) & 0xFF) << (8 * k); i += 1; k += 1 }
            len += 1
            // a 4-extra-byte length can set the sign bit, which would slip
            // past the overrun guards below as a negative — reject it
            // (round-13 advisory fix)
            if (len <= 0)
              throw new IllegalArgumentException(
                "snappy: literal length out of Int range")
          }
          if (i + len > n || o + len > expected)
            throw new IllegalArgumentException("snappy: literal overrun")
          System.arraycopy(src, i, out, o, len); i += len; o += len
        case 1 => // copy, 1-byte offset
          if (i + 1 > n)
            throw new IllegalArgumentException("snappy: truncated copy tag")
          val len = ((tag >>> 2) & 0x7) + 4
          val off = ((tag >>> 5) << 8) | (src(i) & 0xFF); i += 1
          copyWithin(out, o, off, len, expected); o += len
        case 2 => // copy, 2-byte offset
          if (i + 2 > n)
            throw new IllegalArgumentException("snappy: truncated copy tag")
          val len = (tag >>> 2) + 1
          val off = (src(i) & 0xFF) | ((src(i + 1) & 0xFF) << 8); i += 2
          copyWithin(out, o, off, len, expected); o += len
        case _ => // copy, 4-byte offset
          if (i + 4 > n)
            throw new IllegalArgumentException("snappy: truncated copy tag")
          val len = (tag >>> 2) + 1
          val off = le32(src, i); i += 4
          copyWithin(out, o, off, len, expected); o += len
      }
    }
    if (o != expected)
      throw new IllegalArgumentException(s"snappy: expected $expected got $o")
    out
  }

  private def copyWithin(out: Array[Byte], o: Int, off: Int, len: Int,
      cap: Int): Unit = {
    if (off <= 0 || off > o)
      throw new IllegalArgumentException(s"snappy: bad offset $off at $o")
    if (o + len > cap)
      throw new IllegalArgumentException("snappy: copy overrun")
    var k = 0
    while (k < len) { out(o + k) = out(o - off + k); k += 1 }
  }

  /** string → raw Snappy block: the [[Lz4SnappyExprs.snappyUtf8]] call. */
  def snappyUtf8(s: UTF8String): Array[Byte] = compress(s.getBytes)
  /** raw Snappy block → string: the [[Lz4SnappyExprs.unsnappyUtf8]] call. */
  def unsnappyUtf8(b: Array[Byte]): UTF8String = UTF8String.fromBytes(decompress(b))
}
