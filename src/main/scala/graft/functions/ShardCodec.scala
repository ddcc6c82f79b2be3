package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Gzip shard codec — the compressed-shard plumbing for JSONL
  * interchange, the de-facto training-data format (one JSON object per
  * line, shards gzipped). Pure JDK (`java.util.zip.GZIPOutputStream` /
  * `GZIPInputStream`), RFC 1952 framing with its CRC-32 + ISIZE
  * trailer — a corrupt shard fails the gunzip loudly rather than
  * yielding truncated text.
  *
  * Both directions are [[NativeCall]]s ([[ShardExprs]]), so shard
  * assembly/parse stays inside whole-stage codegen. Compression is
  * byte-deterministic for a fixed JDK, but — same policy as the PNG
  * codec — compressed LENGTHS are never projected into gated results;
  * queries assert round-trip equality, which is
  * implementation-independent because gzip is lossless.
  *
  * Reference scope: the reference loads uncompressed CSV/JSON only
  * (/root/reference/tools.py:22-41); compressed-shard ingest is
  * beyond-reference LLM-pipeline surface per the build brief.
  */
object ShardCodec {

  /** UTF-8 string → gzip bytes (one member, default deflate level). */
  def gzipUtf8(s: UTF8String): Array[Byte] = {
    val raw = s.getBytes
    val out = new ByteArrayOutputStream(raw.length / 2 + 64)
    val gz = new GZIPOutputStream(out)
    gz.write(raw); gz.finish(); gz.close()
    out.toByteArray
  }

  /** Gzip bytes → UTF-8 string; throws on bad magic/CRC/trailer. */
  def gunzipUtf8(b: Array[Byte]): UTF8String = {
    val in = new GZIPInputStream(new ByteArrayInputStream(b), 8192)
    val out = new ByteArrayOutputStream(b.length * 3 + 64)
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    in.close()
    UTF8String.fromBytes(out.toByteArray)
  }
}

/** Column-API face for the shard codec. */
object ShardExprs {
  /** string → gzip-compressed binary. */
  def gzipUtf8(text: Column): Column =
    Native.call("gzip_utf8", ShardCodec, "gzipUtf8", BinaryType)(text)

  /** gzip binary → string (loud failure on corrupt members). */
  def gunzipUtf8(payload: Column): Column =
    Native.call("gunzip_utf8", ShardCodec, "gunzipUtf8", StringType)(payload)
}
