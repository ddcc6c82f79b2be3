package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** H.264/AVC Annex-B bitstream plumbing (ITU-T H.264 / ISO 14496-10,
  * public spec) — the metadata plane of video ingest, the exact
  * analogue of what [[Mp3Census]] does for audio: REAL bitstream
  * parsing (start-code walk, emulation-prevention-byte stripping,
  * Exp-Golomb sequence-parameter-set decode down to coded width/height)
  * with SAMPLE decode explicitly out of scope behind the labeled
  * StubMediaCodec seam (operators/Multimodal.scala) — entropy-coded
  * macroblock reconstruction stays stubbed; everything an ingest
  * pipeline reads to route/size/census video does not.
  *
  * What is real here, from the spec:
  *  - Annex B byte-stream framing: 3- and 4-byte start codes
  *    (00 00 01 / 00 00 00 01), NAL header (forbidden_zero_bit,
  *    nal_ref_idc, nal_unit_type);
  *  - emulation prevention: inside a NAL, 00 00 03 encodes a raw 00 00
  *    followed by 00/01/02/03 — the encoder inserts the 03, the parser
  *    strips it (H.264 §7.4.1.1), and the fixture PLANTS 00 00 01 /
  *    00 00 02 runs inside slice payloads so an unescaped encoder
  *    would produce phantom start codes and fail the census;
  *  - Exp-Golomb ue(v) coding (§9.1) and the SPS syntax walk (§7.3.2.1)
  *    through profile/level, log2_max_frame_num, pic_order_cnt_type,
  *    pic_width_in_mbs_minus1 / pic_height_in_map_units_minus1 →
  *    luma width/height in samples.
  *
  * The deterministic fixture encodes one SPS + one PPS + (1 + doc_id%3)
  * IDR slices per document with rule-driven dimensions and payloads;
  * the oracle replays every projected column from the doc_id rules.
  */
object H264Nal {

  // ── bit writer with Exp-Golomb ──────────────────────────────────────
  private final class BitWriter {
    private val buf = new java.io.ByteArrayOutputStream(64)
    private var cur = 0
    private var nbits = 0
    def u(v: Int, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) {
        cur = (cur << 1) | ((v >>> k) & 1)
        nbits += 1
        if (nbits == 8) { buf.write(cur); cur = 0; nbits = 0 }
        k -= 1
      }
    }
    def ue(v: Int): Unit = {
      val vp = v + 1
      val bits = 32 - Integer.numberOfLeadingZeros(vp)
      u(0, bits - 1) // leading zeros
      u(vp, bits)
    }
    /** rbsp_trailing_bits: stop bit + zero-pad to a byte boundary. */
    def stopAndAlign(): Array[Byte] = {
      u(1, 1)
      if (nbits > 0) u(0, 8 - nbits)
      buf.toByteArray
    }
  }

  // ── bit reader with Exp-Golomb ──────────────────────────────────────
  private final class BitReader(b: Array[Byte]) {
    private var pos = 0
    def u(n: Int): Int = {
      var v = 0
      var k = 0
      while (k < n) {
        v = (v << 1) | ((b(pos >> 3) >> (7 - (pos & 7))) & 1)
        pos += 1
        k += 1
      }
      v
    }
    def ue(): Int = {
      var zeros = 0
      while (u(1) == 0) zeros += 1
      if (zeros == 0) 0 else ((1 << zeros) | u(zeros)) - 1
    }
  }

  /** Insert emulation-prevention bytes: any 00 00 followed by 00..03
    * becomes 00 00 03 xx (§7.4.1.1). */
  def escapeRbsp(rbsp: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(rbsp.length + 8)
    var zeros = 0
    var i = 0
    while (i < rbsp.length) {
      val v = rbsp(i) & 0xFF
      if (zeros >= 2 && v <= 3) { out.write(3); zeros = 0 }
      out.write(v)
      zeros = if (v == 0) zeros + 1 else 0
      i += 1
    }
    out.toByteArray
  }

  /** Strip emulation-prevention bytes (inverse of [[escapeRbsp]]);
    * returns (rbsp, nStripped). */
  def unescapeRbsp(ebsp: Array[Byte]): (Array[Byte], Int) = {
    val out = new java.io.ByteArrayOutputStream(ebsp.length)
    var zeros = 0
    var stripped = 0
    var i = 0
    while (i < ebsp.length) {
      val v = ebsp(i) & 0xFF
      if (zeros >= 2 && v == 3 && i + 1 < ebsp.length &&
          (ebsp(i + 1) & 0xFF) <= 3) {
        stripped += 1; zeros = 0 // skip the EPB
      } else {
        out.write(v)
        zeros = if (v == 0) zeros + 1 else 0
      }
      i += 1
    }
    (out.toByteArray, stripped)
  }

  /** Fixture rules (replayed by the oracles). */
  def widthMbs(docId: Long): Int = (2 + docId % 9).toInt
  def heightMbs(docId: Long): Int = (2 + docId % 7).toInt
  def nIdr(docId: Long): Int = (1 + docId % 3).toInt
  val SlicePayloadLen = 24 // 5 rule + {00 00 01} + 5 rule + {00 00 02} + 8 rule

  /** Build the Annex-B stream for one document. */
  def encode(docId: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(160)
    def startCode4(): Unit = { out.write(0); out.write(0); out.write(0); out.write(1) }
    def startCode3(): Unit = { out.write(0); out.write(0); out.write(1) }
    def nal(refIdc: Int, typ: Int, rbsp: Array[Byte]): Unit = {
      out.write((refIdc << 5) | typ) // forbidden_zero_bit = 0
      out.write(escapeRbsp(rbsp))
    }
    // SPS (baseline profile 66, level 3.0)
    val sps = new BitWriter
    sps.u(66, 8) // profile_idc
    sps.u(0x40, 8) // constraint_set1 + reserved zeros
    sps.u(30, 8) // level_idc
    sps.ue(0) // seq_parameter_set_id
    sps.ue((docId % 3).toInt) // log2_max_frame_num_minus4
    sps.ue(2) // pic_order_cnt_type (2 → no further POC fields)
    sps.ue(1) // max_num_ref_frames
    sps.u(0, 1) // gaps_in_frame_num_value_allowed_flag
    sps.ue(widthMbs(docId) - 1) // pic_width_in_mbs_minus1
    sps.ue(heightMbs(docId) - 1) // pic_height_in_map_units_minus1
    sps.u(1, 1) // frame_mbs_only_flag
    sps.u(1, 1) // direct_8x8_inference_flag
    sps.u(0, 1) // frame_cropping_flag
    sps.u(0, 1) // vui_parameters_present_flag
    startCode4(); nal(3, 7, sps.stopAndAlign())
    // PPS (minimal: ids + flags through the mandatory prefix)
    val pps = new BitWriter
    pps.ue(0) // pic_parameter_set_id
    pps.ue(0) // seq_parameter_set_id
    pps.u(0, 1) // entropy_coding_mode_flag (CAVLC)
    pps.u(0, 1) // bottom_field_pic_order_in_frame_present_flag
    pps.ue(0) // num_slice_groups_minus1
    pps.ue(0); pps.ue(0) // num_ref_idx_l0/l1_default_active_minus1
    pps.u(0, 1); pps.u(0, 2); pps.u(0, 1) // weighted pred flags/idc
    startCode3(); nal(3, 8, pps.stopAndAlign())
    // IDR slices with PLANTED phantom start codes in the payload
    var k = 0
    while (k < nIdr(docId)) {
      // rule bytes are 1..250 (never 0x00) so the ONLY zero runs are the
      // two planted phantom start codes — n_epb is exactly 2 per slice
      val p = new Array[Byte](SlicePayloadLen)
      var j = 0
      while (j < 5) { p(j) = (1 + (docId * 31 + k * 17 + j * 7) % 250).toByte; j += 1 }
      p(5) = 0; p(6) = 0; p(7) = 1 // phantom start code → must be escaped
      j = 8
      while (j < 13) { p(j) = (1 + (docId * 13 + k * 7 + j * 3) % 250).toByte; j += 1 }
      p(13) = 0; p(14) = 0; p(15) = 2 // second escape site
      j = 16
      while (j < SlicePayloadLen) {
        p(j) = (1 + (docId * 7 + k * 5 + j) % 250).toByte; j += 1
      }
      startCode3(); nal(3, 5, p)
      k += 1
    }
    out.toByteArray
  }

  val schema: StructType = StructType(Seq(
    StructField("n_nals", IntegerType, nullable = false),
    StructField("n_sps", IntegerType, nullable = false),
    StructField("n_pps", IntegerType, nullable = false),
    StructField("n_idr", IntegerType, nullable = false),
    StructField("n_epb", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("log2_max_frame_num", IntegerType, nullable = false),
    StructField("level_idc", IntegerType, nullable = false),
    StructField("idr_rbsp_bytes", LongType, nullable = false)))

  /** Walk an Annex-B stream: census NAL types, strip EPBs, parse the
    * SPS down to luma dimensions. */
  def census(stream: Array[Byte]): InternalRow = {
    val n = stream.length
    // find start-code offsets
    val starts = new scala.collection.mutable.ArrayBuffer[Int]
    var i = 0
    while (i + 2 < n) {
      if (stream(i) == 0 && stream(i + 1) == 0 && stream(i + 2) == 1) {
        starts += (i + 3)
        i += 3
      } else i += 1
    }
    var nNals = 0; var nSps = 0; var nPps = 0; var nIdr = 0; var nEpb = 0
    var width = 0; var height = 0; var log2Max = 0; var level = 0
    var idrRbsp = 0L
    var s = 0
    while (s < starts.length) {
      val from = starts(s)
      // NAL extends to the next start code or EOS; trailing zeros before
      // a start code are the next code's 00-prefix / trailing_zero_8bits
      // (an RBSP never ends in 0x00 — the stop bit keeps the last byte
      // nonzero, and EPB escaping preserves that)
      var to = if (s + 1 < starts.length) starts(s + 1) - 3 else n
      while (to > from + 1 && stream(to - 1) == 0) to -= 1
      val header = stream(from) & 0xFF
      require((header & 0x80) == 0, "forbidden_zero_bit set")
      val typ = header & 0x1F
      nNals += 1
      val ebsp = java.util.Arrays.copyOfRange(stream, from + 1, to)
      val (rbsp, stripped) = unescapeRbsp(ebsp)
      nEpb += stripped
      typ match {
        case 7 =>
          nSps += 1
          val r = new BitReader(rbsp)
          r.u(8) // profile_idc
          r.u(8) // constraint flags
          level = r.u(8)
          r.ue() // sps_id
          log2Max = 4 + r.ue()
          val poc = r.ue()
          require(poc == 2, s"fixture always writes poc_type 2, got $poc")
          r.ue() // max_num_ref_frames
          r.u(1) // gaps flag
          width = 16 * (r.ue() + 1)
          height = 16 * (r.ue() + 1) // frame_mbs_only=1 in the fixture
        case 8 => nPps += 1
        case 5 => nIdr += 1; idrRbsp += rbsp.length
        case _ => ()
      }
      s += 1
    }
    InternalRow(nNals, nSps, nPps, nIdr, nEpb, width, height, log2Max,
      level, idrRbsp)
  }
}

/** Column-API face. */
object H264Exprs {
  /** doc_id → deterministic Annex-B stream. */
  def h264FromId(docId: Column): Column =
    Native.call("h264_from_id", H264Nal, "encode", BinaryType)(docId)
  /** Annex-B stream → NAL census struct. */
  def h264Census(stream: Column): Column =
    Native.call("h264_census", H264Nal, "census", H264Nal.schema)(stream)
}
