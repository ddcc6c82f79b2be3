package graft.functions

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pure-JVM Y4M (YUV4MPEG2) codec — the video leg of the multimodal
  * family, real since round 8. With [[ImageCodec]] (images) and
  * [[AudioCodec]] (audio) this retires the engine's last stubbed
  * decoder: Y4M is the uncompressed interchange format every video
  * toolchain speaks (ffmpeg/mjpegtools), and like PPM it is fully
  * parseable without codec libraries.
  *
  * Format facts the decoder must get right (spec-pinned):
  * an ASCII header line `YUV4MPEG2` + space-separated tagged parameters
  * in ANY order (`W<int> H<int> F<num>:<den> I<p|t|b> A<n>:<d>
  * C<chroma> X<comment>`), terminated by `\n`; then per frame a
  * `FRAME` marker line (which may itself carry parameters before its
  * `\n`) followed by the raw planes — for 4:2:0 chroma: w·h luma (Y)
  * bytes, then (w/2)·(h/2) Cb, then (w/2)·(h/2) Cr. `C420` is the
  * DEFAULT when the C tag is absent.
  *
  * Static entry points for codegen — same forwarder pattern as
  * [[NativeHash]]/[[ImageCodec]]/[[AudioCodec]].
  *
  * Reference scope: the reference pipeline has no media path
  * (/root/reference/tools.py is CSV/JSON/SQL only); public YUV4MPEG2
  * layout (mjpegtools yuv4mpeg(5)).
  */
object VideoCodec {

  final case class DecodedVideo(width: Int, height: Int, fpsNum: Int,
      fpsDen: Int, frames: Array[Array[Int]])

  /** Encode 4:2:0 frames (each `w·h + 2·(w/2)·(h/2)` bytes, planes
    * concatenated Y,Cb,Cr). Header carries W/H/F/I/A tags; C420 is left
    * implicit in half the fixtures via `omitC` to pin the spec default. */
  def encodeY4m(width: Int, height: Int, fpsNum: Int, fpsDen: Int,
      frames: Seq[Array[Byte]], omitC: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0 && width % 2 == 0 && height % 2 == 0,
      s"y4m: 4:2:0 needs even dims, got ${width}x$height")
    val frameSize = width * height + 2 * (width / 2) * (height / 2)
    frames.foreach(f => require(f.length == frameSize,
      s"y4m: frame is ${f.length} bytes, want $frameSize"))
    val header = s"YUV4MPEG2 W$width H$height F$fpsNum:$fpsDen Ip A1:1" +
      (if (omitC) "" else " C420") + "\n"
    val out = new java.io.ByteArrayOutputStream()
    out.write(header.getBytes(US_ASCII))
    frames.foreach { f =>
      out.write("FRAME\n".getBytes(US_ASCII))
      out.write(f)
    }
    out.toByteArray
  }

  /** Decode: tolerant tagged-parameter header parse (any order, unknown
    * X tags skipped, C420 default), per-frame FRAME marker lines (their
    * own parameters skipped), raw 4:2:0 planes. Throws on non-4:2:0
    * chroma, odd dims, truncated frames — loud beats silent garbage. */
  def decodeY4m(b: Array[Byte]): DecodedVideo = {
    require(b != null && b.length >= 10, "y4m: payload too short")
    require(new String(b, 0, 9, US_ASCII) == "YUV4MPEG2", "y4m: bad magic")
    var eol = 9
    while (eol < b.length && b(eol) != '\n') eol += 1
    require(eol < b.length, "y4m: unterminated header")
    val header = new String(b, 9, eol - 9, US_ASCII).trim
    var w = -1; var h = -1; var fn = 25; var fd = 1; var chroma = "420"
    header.split(' ').filter(_.nonEmpty).foreach { tok =>
      tok.charAt(0) match {
        case 'W' => w = tok.drop(1).toInt
        case 'H' => h = tok.drop(1).toInt
        case 'F' =>
          val Array(n, d) = tok.drop(1).split(':'); fn = n.toInt; fd = d.toInt
        case 'C' => chroma = tok.drop(1)
        case _ => // I, A, X…: irrelevant to the raster layout
      }
    }
    require(w > 0 && h > 0, s"y4m: missing/bad dims ${w}x$h")
    require(w % 2 == 0 && h % 2 == 0, s"y4m: 4:2:0 needs even dims, got ${w}x$h")
    require(chroma.startsWith("420"),
      s"y4m: only 4:2:0 chroma supported, got C$chroma")
    val frameSize = w * h + 2 * (w / 2) * (h / 2)
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    var p = eol + 1
    while (p < b.length) {
      require(p + 5 <= b.length &&
        new String(b, p, 5, US_ASCII) == "FRAME", s"y4m: bad FRAME marker at $p")
      p += 5
      while (p < b.length && b(p) != '\n') p += 1 // frame-line params
      require(p < b.length, "y4m: unterminated FRAME line")
      p += 1
      require(b.length - p >= frameSize,
        s"y4m: frame truncated (${b.length - p} of $frameSize bytes)")
      val f = new Array[Int](frameSize)
      var i = 0
      while (i < frameSize) { f(i) = b(p + i) & 0xff; i += 1 }
      frames += f
      p += frameSize
    }
    require(frames.nonEmpty, "y4m: no frames")
    DecodedVideo(w, h, fn, fd, frames.toArray)
  }

  /** Deterministic fixture frames from text: global sample g (frame f,
    * in-frame offset i, g = f·frameSize + i) = codepoint(g mod len) mod
    * 256 — the same closed form the image/audio fixtures use, so SQL
    * oracles replay every plane of every frame. */
  def textFrames(text: String, width: Int, height: Int,
      nFrames: Int): Seq[Array[Byte]] = {
    val frameSize = width * height + 2 * (width / 2) * (height / 2)
    val all = ImageCodec.textRaster(text, frameSize * nFrames)
    (0 until nFrames).map(f =>
      java.util.Arrays.copyOfRange(all, f * frameSize, (f + 1) * frameSize))
  }

  /** Static forwarder: text → Y4M payload. Docs with even ids omit the
    * C tag, pinning the C420-default rule on half the corpus. */
  def encodeFromText(text: UTF8String, width: Int, height: Int,
      nFrames: Int, omitC: Boolean): Array[Byte] =
    encodeY4m(width, height, 25, 1, textFrames(text.toString, width, height, nFrames),
      omitC = omitC)

  /** Schema of [[statsRow]] — all integer-exact. `y_sum_f0` is the
    * frame-order detector (per-frame sums are permutation-sensitive
    * there), `uv_sum` catches a luma/chroma plane-boundary slip. */
  val statsSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("fps_num", IntegerType, nullable = false),
    StructField("fps_den", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("y_sum_all", LongType, nullable = false),
    StructField("y_sum_f0", LongType, nullable = false),
    StructField("uv_sum", LongType, nullable = false),
    StructField("y_min", IntegerType, nullable = false),
    StructField("y_max", IntegerType, nullable = false)))

  /** Static forwarder: decode + one-pass integer stats over all frames'
    * planes. */
  def statsRow(bytes: Array[Byte]): InternalRow = {
    val d = decodeY4m(bytes)
    val ySize = d.width * d.height
    var yAll = 0L; var yF0 = 0L; var uv = 0L
    var mn = 255; var mx = 0
    var f = 0
    while (f < d.frames.length) {
      val fr = d.frames(f)
      var i = 0
      while (i < fr.length) {
        val v = fr(i)
        if (i < ySize) {
          yAll += v
          if (f == 0) yF0 += v
          if (v < mn) mn = v
          if (v > mx) mx = v
        } else uv += v
        i += 1
      }
      f += 1
    }
    InternalRow(d.width, d.height, d.fpsNum, d.fpsDen, d.frames.length,
      yAll, yF0, uv, mn, mx)
  }

  /** Static forwarder: decode → per-frame luma-plane sums as an array —
    * the real frame-level signal `sampleFrameIndexes`' bookkeeping was
    * a stand-in for; frame sampling composes downstream with plain
    * array functions (element_at / filter by stride). */
  def frameYSums(bytes: Array[Byte]): ArrayData = {
    val d = decodeY4m(bytes)
    val ySize = d.width * d.height
    new GenericArrayData(d.frames.map { fr =>
      var s = 0L; var i = 0
      while (i < ySize) { s += fr(i); i += 1 }
      Long.box(s): Any
    })
  }

  /** Static forwarder: decode → mean-absolute-frame-difference signal,
    * Σ_i |y_f[i] − y_{f−1}[i]| over the luma plane for each consecutive
    * frame pair (array length n_frames − 1). The MAFD series is the
    * classic shot-boundary / scene-cut feature (a cut is a spike; a
    * static scene is ≈0) and the temporal-redundancy signal a video
    * training pipeline samples frames by. */
  def frameYDeltas(bytes: Array[Byte]): ArrayData = {
    val d = decodeY4m(bytes)
    val ySize = d.width * d.height
    new GenericArrayData((1 until d.frames.length).map { f =>
      val a = d.frames(f - 1); val b = d.frames(f)
      var s = 0L; var i = 0
      while (i < ySize) { s += math.abs(b(i) - a(i)); i += 1 }
      Long.box(s): Any
    }.toArray[Any])
  }
}

object VideoExprs {
  /** Text → Y4M payload ([[VideoCodec.encodeFromText]]). */
  def encodeY4mFromText(text: Column, width: Int, height: Int,
      nFrames: Int, omitC: Boolean): Column =
    Native.call("encode_y4m_from_text", VideoCodec, "encodeFromText",
      BinaryType, Seq(width, height, nFrames, omitC))(text)

  /** Y4M payload → integer header/plane statistics ([[VideoCodec.statsRow]]). */
  def videoStats(payload: Column): Column =
    Native.call("video_stats", VideoCodec, "statsRow", VideoCodec.statsSchema)(payload)

  /** Y4M payload → per-frame luma sums (array<long>) for frame-level
    * composition ([[VideoCodec.frameYSums]]). */
  def frameYSums(payload: Column): Column =
    Native.call("y4m_frame_y_sums", VideoCodec, "frameYSums",
      ArrayType(LongType, containsNull = false))(payload)

  /** Y4M payload → per-consecutive-frame luma abs-difference sums
    * (array<long>, length n_frames − 1) — the scene-cut / temporal-
    * redundancy signal ([[VideoCodec.frameYDeltas]]). */
  def frameYDeltas(payload: Column): Column =
    Native.call("y4m_frame_y_deltas", VideoCodec, "frameYDeltas",
      ArrayType(LongType, containsNull = false))(payload)
}
