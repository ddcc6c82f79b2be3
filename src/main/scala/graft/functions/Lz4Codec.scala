package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Pure-JVM LZ4 block + frame codec and xxHash32 — the shard codec the
  * Hadoop/ML-data world actually ships (`.jsonl.lz4`, parquet LZ4,
  * Kafka lz4 batches). No JDK support exists (unlike gzip, handled by
  * [[ShardCodec]] via `java.util.zip`), so both directions are
  * implemented from the public specifications:
  *
  *  - Block format: https://github.com/lz4/lz4/blob/dev/doc/lz4_Block_format.md
  *    (token nibbles, 255-run length extension, little-endian match
  *    offsets, the end-of-block rules: last sequence is literals-only,
  *    last 5 bytes are literals, no match starts within 12 bytes of the
  *    block end).
  *  - Frame format: https://github.com/lz4/lz4/blob/dev/doc/lz4_Frame_format.md
  *    (magic 0x184D2204, FLG/BD descriptor with xxh32 header checksum,
  *    content size, per-block uncompressed-bit escape, end mark,
  *    whole-content xxh32 trailer).
  *  - xxHash32: https://github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md
  *    (the five public primes; spec test vector xxh32("", seed=0)
  *    = 0x02CC5D05 is pinned in Lz4CodecSpec).
  *
  * The compressor is the reference greedy parser: a 4-byte hash chain
  * (single-probe table, Fibonacci hashing) with forward match extension.
  * Compressed BYTES are deterministic for this implementation but — same
  * policy as ShardCodec/PngCodec — never projected into gated results;
  * gated queries assert lossless round trips (md5 of the decompressed
  * shard equals md5 of the assembled original, which DuckDB replays),
  * and compression behavior is spec-pinned instead.
  *
  * Reference scope: the reference loads uncompressed CSV/JSON only
  * (/root/reference/tools.py:22-41); compressed-shard ingest is
  * beyond-reference LLM-pipeline surface per the build brief.
  */
object Lz4Codec {

  // ── xxHash32 (spec constants) ───────────────────────────────────────
  private val P1 = 0x9E3779B1 // 2654435761
  private val P2 = 0x85EBCA77 // 2246822519
  private val P3 = 0xC2B2AE3D // 3266489917
  private val P4 = 0x27D4EB2F //  668265263
  private val P5 = 0x165667B1 //  374761393

  private def rotl(x: Int, r: Int): Int = Integer.rotateLeft(x, r)

  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) |
      ((b(i + 2) & 0xFF) << 16) | ((b(i + 3) & 0xFF) << 24)

  /** xxHash32 over `b[off, off+len)` with the given seed. */
  def xxh32(b: Array[Byte], off: Int, len: Int, seed: Int): Int = {
    var i = off
    val end = off + len
    var h =
      if (len >= 16) {
        var v1 = seed + P1 + P2
        var v2 = seed + P2
        var v3 = seed
        var v4 = seed - P1
        val limit = end - 16
        while (i <= limit) {
          v1 = rotl(v1 + le32(b, i) * P2, 13) * P1; i += 4
          v2 = rotl(v2 + le32(b, i) * P2, 13) * P1; i += 4
          v3 = rotl(v3 + le32(b, i) * P2, 13) * P1; i += 4
          v4 = rotl(v4 + le32(b, i) * P2, 13) * P1; i += 4
        }
        rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
      } else seed + P5
    h += len
    while (i + 4 <= end) { h = rotl(h + le32(b, i) * P3, 17) * P4; i += 4 }
    while (i < end) { h = rotl(h + (b(i) & 0xFF) * P5, 11) * P1; i += 1 }
    h ^= h >>> 15; h *= P2
    h ^= h >>> 13; h *= P3
    h ^= h >>> 16
    h
  }

  def xxh32(b: Array[Byte], seed: Int): Int = xxh32(b, 0, b.length, seed)

  // ── LZ4 block compression (greedy, spec end rules) ──────────────────
  private val MinMatch = 4
  private val MfLimit = 12 // no match may start within 12 bytes of end
  private val LastLiterals = 5 // last 5 bytes always literals
  private val HashLog = 16

  private def hash4(v: Int): Int = (v * -1640531535) >>> (32 - HashLog)

  /** Worst-case compressed size for `n` input bytes (spec bound). */
  def maxCompressedLength(n: Int): Int = n + n / 255 + 16

  /** Compress one block; returns the compressed bytes (may be longer
    * than the input for incompressible data — the FRAME layer then
    * stores the block uncompressed, as the spec intends). */
  def compressBlock(src: Array[Byte]): Array[Byte] = {
    val n = src.length
    val out = new Array[Byte](maxCompressedLength(n))
    var o = 0
    def writeLen(l0: Int): Unit = {
      var l = l0
      while (l >= 255) { out(o) = -1; o += 1; l -= 255 }
      out(o) = l.toByte; o += 1
    }
    val table = new Array[Int](1 << HashLog) // stores pos+1; 0 = empty
    var anchor = 0
    var i = 0
    val mfEnd = n - MfLimit
    while (i < mfEnd) {
      val h = hash4(le32(src, i))
      val cand = table(h) - 1
      table(h) = i + 1
      if (cand >= 0 && i - cand <= 0xFFFF && le32(src, cand) == le32(src, i)) {
        // extend the match forward (match may run into the last-5 zone
        // but must END so that 5 literal bytes remain)
        var m = MinMatch
        val maxM = n - LastLiterals - i
        while (m < maxM && src(cand + m) == src(i + m)) m += 1
        val litLen = i - anchor
        val tokenPos = o; o += 1
        if (litLen >= 15) writeLen(litLen - 15)
        System.arraycopy(src, anchor, out, o, litLen); o += litLen
        val off = i - cand
        out(o) = (off & 0xFF).toByte; o += 1
        out(o) = ((off >> 8) & 0xFF).toByte; o += 1
        val mlCode = m - MinMatch
        out(tokenPos) = (((if (litLen >= 15) 15 else litLen) << 4) |
          (if (mlCode >= 15) 15 else mlCode)).toByte
        if (mlCode >= 15) writeLen(mlCode - 15)
        i += m
        anchor = i
      } else i += 1
    }
    // final literals-only sequence
    val litLen = n - anchor
    val tokenPos = o; o += 1
    out(tokenPos) = ((if (litLen >= 15) 15 else litLen) << 4).toByte
    if (litLen >= 15) writeLen(litLen - 15)
    System.arraycopy(src, anchor, out, o, litLen); o += litLen
    java.util.Arrays.copyOf(out, o)
  }

  /** Decompress one block into at most `maxLen` bytes and return the
    * bytes actually produced; throws on malformed sequences, bad
    * offsets, or output exceeding `maxLen`. Capacity semantics, not
    * exact-length: conformant foreign frames routinely carry blocks
    * smaller than the BD block maximum (streaming flush, final block),
    * so the block layer must accept any size up to the cap and leave
    * whole-content validation to the frame's content-size field and
    * xxh32 trailer (round-13 advisory fix). */
  def decompressBlock(src: Array[Byte], maxLen: Int): Array[Byte] = {
    val expectedLen = maxLen
    val out = new Array[Byte](expectedLen)
    var i = 0
    var o = 0
    val n = src.length
    def readLen(base: Int): Int = {
      var l = base
      if (base == 15) {
        var b = 0xFF
        while (b == 0xFF) {
          if (i >= n) throw new IllegalArgumentException("lz4: truncated length")
          b = src(i) & 0xFF; i += 1; l += b
        }
      }
      l
    }
    while (i < n) {
      val token = src(i) & 0xFF; i += 1
      val litLen = readLen(token >>> 4)
      if (i + litLen > n || o + litLen > expectedLen)
        throw new IllegalArgumentException("lz4: literal overrun")
      System.arraycopy(src, i, out, o, litLen); i += litLen; o += litLen
      if (i < n) { // last sequence is literals-only
        if (i + 2 > n) throw new IllegalArgumentException("lz4: truncated offset")
        val off = (src(i) & 0xFF) | ((src(i + 1) & 0xFF) << 8); i += 2
        if (off == 0 || off > o)
          throw new IllegalArgumentException(s"lz4: bad offset $off at $o")
        val mLen = readLen(token & 0xF) + MinMatch
        if (o + mLen > expectedLen)
          throw new IllegalArgumentException("lz4: match overrun")
        // byte-wise copy: offsets < length give the RLE overlap semantics
        var k = 0
        while (k < mLen) { out(o + k) = out(o - off + k); k += 1 }
        o += mLen
      }
    }
    if (o == expectedLen) out else java.util.Arrays.copyOf(out, o)
  }

  // ── LZ4 frame ───────────────────────────────────────────────────────
  private val Magic = 0x184D2204
  private val BlockMax = 64 * 1024 // BD code 4 (64 KB)

  /** Wrap raw bytes in an LZ4 frame: FLG = block-independent +
    * content-size + content-checksum, 64 KB max block size. Blocks that
    * don't compress are stored with the uncompressed-bit set. */
  def compressFrame(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    def w8(v: Int): Unit = out.write(v & 0xFF)
    def w32(v: Int): Unit = { w8(v); w8(v >> 8); w8(v >> 16); w8(v >> 24) }
    def w64(v: Long): Unit = { w32(v.toInt); w32((v >>> 32).toInt) }
    w32(Magic)
    // FLG: version 01, block-independence, content-size, content-checksum
    val flg = (1 << 6) | (1 << 5) | (1 << 3) | (1 << 2)
    val bd = 4 << 4 // 64 KB max block
    val desc = Array[Byte](flg.toByte, bd.toByte,
      raw.length.toByte, (raw.length >> 8).toByte,
      (raw.length >> 16).toByte, (raw.length >> 24).toByte,
      0, 0, 0, 0) // content size (we never shard >2 GB locally)
    w8(flg); w8(bd); w64(raw.length.toLong)
    // HC: second byte of xxh32 over the descriptor (FLG..content size)
    w8(xxh32(desc, 0, desc.length, 0) >>> 8)
    var off = 0
    while (off < raw.length) {
      val len = math.min(BlockMax, raw.length - off)
      val block = java.util.Arrays.copyOfRange(raw, off, off + len)
      val comp = compressBlock(block)
      if (comp.length < len) { w32(comp.length); out.write(comp) }
      else { w32(len | 0x80000000); out.write(block) } // stored
      off += len
    }
    w32(0) // end mark
    w32(xxh32(raw, 0, raw.length, 0)) // content checksum
    out.toByteArray
  }

  /** Parse an LZ4 frame back to the raw bytes; verifies magic, header
    * checksum, content size, and the xxh32 content checksum. */
  def decompressFrame(frame: Array[Byte]): Array[Byte] = {
    var i = 0
    def r8(): Int = { val v = frame(i) & 0xFF; i += 1; v }
    def r32(): Int = { r8() | (r8() << 8) | (r8() << 16) | (r8() << 24) }
    if (r32() != Magic) throw new IllegalArgumentException("lz4: bad magic")
    val flg = r8(); val bd = r8()
    if ((flg >>> 6) != 1) throw new IllegalArgumentException("lz4: bad version")
    val hasContentSize = (flg & (1 << 3)) != 0
    val hasContentCk = (flg & (1 << 2)) != 0
    val hasBlockCk = (flg & (1 << 4)) != 0
    val descStart = i - 2
    val contentSize = if (hasContentSize) {
      val lo = r32().toLong & 0xFFFFFFFFL
      val hi = r32().toLong & 0xFFFFFFFFL
      lo | (hi << 32)
    } else -1L
    val hc = r8()
    val expectHc = (xxh32(frame, descStart, i - 1 - descStart, 0) >>> 8) & 0xFF
    if (hc != expectHc)
      throw new IllegalArgumentException("lz4: header checksum mismatch")
    val maxBlock = 1 << (8 + 2 * ((bd >> 4) & 0x7))
    val out = new java.io.ByteArrayOutputStream(
      if (contentSize >= 0 && contentSize <= (10L << 20)) contentSize.toInt
      else 1 << 16)
    while ({
      val bsz = r32()
      if (bsz == 0) false
      else {
        val stored = (bsz & 0x80000000) != 0
        val len = bsz & 0x7FFFFFFF
        val data = java.util.Arrays.copyOfRange(frame, i, i + len); i += len
        if (hasBlockCk) { r32(); () } // not emitted by our writer
        if (stored) out.write(data)
        else
          // independent blocks: each inflates to AT MOST the BD block
          // maximum — foreign frames may flush smaller-than-max blocks
          // and may omit the content-size field entirely, so the only
          // per-block bound is maxBlock; total size is validated below
          // against the content-size field / content checksum
          out.write(decompressBlock(data, maxBlock))
        true
      }
    }) ()
    val raw = out.toByteArray
    if (contentSize >= 0 && raw.length != contentSize)
      throw new IllegalArgumentException(
        s"lz4: content size $contentSize != ${raw.length}")
    if (hasContentCk) {
      val ck = r32()
      if (ck != xxh32(raw, 0, raw.length, 0))
        throw new IllegalArgumentException("lz4: content checksum mismatch")
    }
    raw
  }

  /** string → LZ4 frame: the [[Lz4SnappyExprs.lz4Utf8]] call. */
  def lz4Utf8(s: UTF8String): Array[Byte] = compressFrame(s.getBytes)
  /** LZ4 frame → string: the [[Lz4SnappyExprs.unlz4Utf8]] call. */
  def unlz4Utf8(b: Array[Byte]): UTF8String =
    UTF8String.fromBytes(decompressFrame(b))
  /** Little-endian content-size field of an LZ4 frame header (bytes
    * 6..13 with our FLG), for header-vs-content integrity columns. */
  def lz4ContentSize(b: Array[Byte]): Long = {
    var v = 0L
    var k = 0
    while (k < 8) { v |= (b(6 + k).toLong & 0xFF) << (8 * k); k += 1 }
    v
  }
}

/** Column faces of the LZ4-frame and Snappy-block codecs: one JVM call
  * per row inside whole-stage codegen, so shard assembly and parse stay
  * in the codegen stage. */
object Lz4SnappyExprs {
  /** string → LZ4 frame (64 KB blocks, xxh32 content checksum). */
  def lz4Utf8(text: Column): Column =
    Native.call("lz4_utf8", Lz4Codec, "lz4Utf8", BinaryType)(text)
  /** LZ4 frame → string (loud failure on bad magic/checksums/size). */
  def unlz4Utf8(payload: Column): Column =
    Native.call("unlz4_utf8", Lz4Codec, "unlz4Utf8", StringType)(payload)
  /** LZ4 frame → declared content size (header field, 0..2^63). */
  def lz4ContentSize(payload: Column): Column =
    Native.call("lz4_content_size", Lz4Codec, "lz4ContentSize", LongType)(payload)
  /** string → raw Snappy block. */
  def snappyUtf8(text: Column): Column =
    Native.call("snappy_utf8", SnappyCodec, "snappyUtf8", BinaryType)(text)
  /** raw Snappy block → string (loud failure on malformed streams). */
  def unsnappyUtf8(payload: Column): Column =
    Native.call("unsnappy_utf8", SnappyCodec, "unsnappyUtf8", StringType)(payload)
}
