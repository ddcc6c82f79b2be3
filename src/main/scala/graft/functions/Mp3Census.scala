package graft.functions

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MP3 CONTAINER census — the metadata/frame-plane walk an audio-ingest
  * pipeline runs before (or instead of) any sample decode: ID3v2.3 tag
  * parse (syncsafe size, TIT2/TPE1 text frames) and the MPEG-1 Layer III
  * frame-header walk (11-bit sync, version/layer bits, the public
  * bitrate/samplerate tables, padding) that yields frame count, VBR
  * byte totals, average bitrate and duration WITHOUT touching a single
  * audio sample. The perceptual DECODE (hybrid filterbank) stays behind
  * the labeled StubMediaCodec seam; everything here is real bytes.
  *
  * Format facts pinned by spec/oracle (ISO/IEC 11172-3 + ID3v2.3, both
  * public):
  *  - ID3v2 header: `ID3`, version 3.0, flags, 28-bit SYNCSAFE size
  *    (4×7 bits — a decoder that reads it big-endian lands mid-tag).
  *  - v2.3 text frame: 4-char id, 32-bit size (NOT syncsafe in 2.3),
  *    2 flag bytes, then encoding byte 0 + latin-1 text.
  *  - Frame header: sync 0x7FF, version bits 11 (MPEG-1), layer bits 01
  *    (Layer III), protection 1 (no CRC), 4-bit bitrate index into
  *    {32..320}, 2-bit samplerate index (00 = 44100), padding bit;
  *    frame length = 144000·kbps/44100 + padding; 1152 samples/frame.
  */
object Mp3Census {

  /** MPEG-1 Layer III bitrate table (kbps), index 1–14. */
  val BitrateKbps: Array[Int] =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)

  val SampleRate = 44100
  val SamplesPerFrame = 1152

  def frameLength(kbps: Int, padding: Int): Int =
    144000 * kbps / SampleRate + padding

  def plantedTitle(id: Long): String = s"track-${id % 1000}"
  def plantedArtist(id: Long): String = s"artist-${id % 97}"
  def plantedFrames(id: Long): Int = (5 + id % 4).toInt
  def plantedBitrateIdx(id: Long, f: Int): Int = (1 + (id + f) % 14).toInt
  def plantedPadding(id: Long, f: Int): Int = ((id + f) % 2).toInt

  private def textFrame(fid: String, text: String): Array[Byte] = {
    val body = 0.toByte +: text.getBytes(US_ASCII) // encoding 0 = latin-1
    val out = new Array[Byte](10 + body.length)
    System.arraycopy(fid.getBytes(US_ASCII), 0, out, 0, 4)
    out(4) = (body.length >>> 24).toByte; out(5) = (body.length >>> 16).toByte
    out(6) = (body.length >>> 8).toByte; out(7) = body.length.toByte
    // flags 0, 0
    System.arraycopy(body, 0, out, 10, body.length)
    out
  }

  /** Build a VBR MP3: ID3v2.3 tag + `n` Layer III frames whose bitrate
    * index and padding bit vary per frame (the planted closed forms). */
  def buildMp3(id: Long): Array[Byte] = {
    val tagBody = textFrame("TIT2", plantedTitle(id)) ++
      textFrame("TPE1", plantedArtist(id))
    val n = plantedFrames(id)
    val frames = (0 until n).map { f =>
      val idx = plantedBitrateIdx(id, f)
      val pad = plantedPadding(id, f)
      val len = frameLength(BitrateKbps(idx), pad)
      val fr = new Array[Byte](len)
      fr(0) = 0xff.toByte
      fr(1) = 0xfb.toByte // sync + MPEG-1 (11) + Layer III (01) + no CRC
      fr(2) = ((idx << 4) | (0 << 2) | (pad << 1)).toByte // 44.1 kHz
      fr(3) = 0xc0.toByte // mono
      var k = 4
      while (k < len) { fr(k) = ((id + f + k) % 251).toByte; k += 1 }
      fr
    }
    val out = new Array[Byte](10 + tagBody.length + frames.map(_.length).sum)
    out(0) = 'I'; out(1) = 'D'; out(2) = '3'; out(3) = 3; out(4) = 0; out(5) = 0
    // SYNCSAFE size: 4×7 bits
    val sz = tagBody.length
    out(6) = ((sz >>> 21) & 0x7f).toByte; out(7) = ((sz >>> 14) & 0x7f).toByte
    out(8) = ((sz >>> 7) & 0x7f).toByte; out(9) = (sz & 0x7f).toByte
    System.arraycopy(tagBody, 0, out, 10, tagBody.length)
    var p = 10 + tagBody.length
    frames.foreach { fr =>
      System.arraycopy(fr, 0, out, p, fr.length); p += fr.length
    }
    out
  }

  final case class Mp3Info(title: String, artist: String, id3Bytes: Int,
      nFrames: Int, audioBytes: Long, sumKbps: Long, durationMs: Long)

  /** Parse: ID3v2 syncsafe header + text frames, then hop frame headers
    * via the bitrate/samplerate tables until the payload ends. */
  def census(b: Array[Byte]): Mp3Info = {
    require(b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3',
      "mp3: missing ID3v2 tag")
    require(b(3) == 3, s"mp3: only ID3v2.3 supported (got 2.${b(3)})")
    val tagSize = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
      ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
    var title = ""
    var artist = ""
    var p = 10
    val tagEnd = 10 + tagSize
    while (p + 10 <= tagEnd && b(p) != 0) {
      val fid = new String(b, p, 4, US_ASCII)
      val fsz = ((b(p + 4) & 0xff) << 24) | ((b(p + 5) & 0xff) << 16) |
        ((b(p + 6) & 0xff) << 8) | (b(p + 7) & 0xff)
      require(p + 10 + fsz <= tagEnd, s"mp3: frame $fid overruns tag")
      if (fid == "TIT2" || fid == "TPE1") {
        require(b(p + 10) == 0, "mp3: only latin-1 text frames supported")
        val text = new String(b, p + 11, fsz - 1, US_ASCII)
        if (fid == "TIT2") title = text else artist = text
      }
      p += 10 + fsz
    }
    p = tagEnd
    var nFrames = 0
    var audioBytes = 0L
    var sumKbps = 0L
    while (p + 4 <= b.length) {
      require((b(p) & 0xff) == 0xff && (b(p + 1) & 0xe0) == 0xe0,
        s"mp3: lost frame sync at byte $p")
      val version = (b(p + 1) >>> 3) & 0x3
      val layer = (b(p + 1) >>> 1) & 0x3
      require(version == 3, "mp3: only MPEG-1 supported")
      require(layer == 1, "mp3: only Layer III supported")
      val idx = (b(p + 2) >>> 4) & 0xf
      require(idx >= 1 && idx <= 14, s"mp3: bad bitrate index $idx")
      val srIdx = (b(p + 2) >>> 2) & 0x3
      require(srIdx == 0, "mp3: only 44.1 kHz supported")
      val pad = (b(p + 2) >>> 1) & 0x1
      val len = frameLength(BitrateKbps(idx), pad)
      require(p + len <= b.length, "mp3: truncated final frame")
      nFrames += 1
      audioBytes += len
      sumKbps += BitrateKbps(idx)
      p += len
    }
    val durationMs = nFrames.toLong * SamplesPerFrame * 1000L / SampleRate
    Mp3Info(title, artist, tagSize, nFrames, audioBytes, sumKbps, durationMs)
  }

  /** Static forwarder for codegen: doc_id → MP3 payload. */
  def encodeFromId(id: Long): Array[Byte] = buildMp3(id)

  /** Static forwarder for codegen: payload → one census row. */
  def censusRow(bytes: Array[Byte]): InternalRow = {
    val i = census(bytes)
    InternalRow(UTF8String.fromString(i.title), UTF8String.fromString(i.artist),
      i.id3Bytes, i.nFrames, i.audioBytes, i.sumKbps, i.durationMs)
  }

  val infoSchema: StructType = StructType(Seq(
    StructField("title", StringType, nullable = false),
    StructField("artist", StringType, nullable = false),
    StructField("id3_bytes", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("audio_bytes", LongType, nullable = false),
    StructField("sum_kbps", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)))
}

/** Column-API face for the MP3 container census. */
object Mp3Exprs {
  /** doc_id → VBR MP3 payload with planted ID3v2.3 tags. */
  def encodeMp3FromId(id: Column): Column =
    Native.call("encode_mp3_from_id", Mp3Census, "encodeFromId", BinaryType)(id)

  /** MP3 payload → container census struct (tags, frames, duration). */
  def census(payload: Column): Column =
    Native.call("mp3_census", Mp3Census, "censusRow", Mp3Census.infoSchema)(payload)
}
