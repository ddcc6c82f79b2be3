package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level UTF-8 validity audit — the encoding gate a web-corpus
  * ingest runs before any text operator touches a payload (crawled
  * bytes routinely carry truncated sequences, CP-1252 mojibake pasted
  * into "UTF-8" pages, CESU-8 surrogate halves, and overlong encodings
  * that naive decoders smuggle through as path traversal).
  *
  * The validator is the exact table from the Unicode Standard
  * (Table 3-7, "Well-Formed UTF-8 Byte Sequences"):
  *
  *   C2..DF → 80..BF            E0 → A0..BF, 80..BF
  *   E1..EC → 80..BF, 80..BF    ED → 80..9F, 80..BF   (no surrogates)
  *   EE..EF → 80..BF, 80..BF    F0 → 90..BF, 80..BF, 80..BF
  *   F1..F3 → 80..BF ×3         F4 → 80..8F, 80..BF, 80..BF
  *
  * with C0/C1/F5..FF never legal. Error COUNTING follows the
  * "maximal subpart" policy (Unicode §3.9 U+FFFD substitution, the
  * WHATWG/W3C behavior): a truncated-but-so-far-valid prefix counts as
  * ONE error and scanning resumes at the offending byte, so
  * `F0 80 80 41` is three errors then a valid 'A', and `ED A0 80` is
  * three (ED alone, then two lone continuations). Classified attempt
  * flags (overlong / surrogate / out-of-range) are diagnostic counts
  * over the same scan. Both the per-class counts and the attempt flags
  * are replayed closed-form by the oracle from the planted-corruption
  * rule; Utf8AuditSpec pins the standard's own substitution examples.
  *
  * Reference scope: the reference assumes clean text end to end
  * (/root/reference/tools.py); beyond-reference LLM-pipeline surface
  * per the build brief.
  */
object Utf8Audit {

  val schema: StructType = StructType(Seq(
    StructField("n_cp", LongType, nullable = false),
    StructField("n_ascii", LongType, nullable = false),
    StructField("n_2b", LongType, nullable = false),
    StructField("n_3b", LongType, nullable = false),
    StructField("n_4b", LongType, nullable = false),
    StructField("n_errors", LongType, nullable = false),
    StructField("overlong_attempts", LongType, nullable = false),
    StructField("surrogate_attempts", LongType, nullable = false),
    StructField("oob_attempts", LongType, nullable = false)))

  /** Scan `b` and return the audit row. */
  def audit(b: Array[Byte]): InternalRow = {
    var ascii = 0L; var c2 = 0L; var c3 = 0L; var c4 = 0L
    var errors = 0L; var overlong = 0L; var surrogate = 0L; var oob = 0L
    val n = b.length
    var i = 0
    def cont(k: Int): Boolean =
      i + k < n && (b(i + k) & 0xC0) == 0x80
    while (i < n) {
      val lead = b(i) & 0xFF
      if (lead < 0x80) { ascii += 1; i += 1 }
      else if (lead < 0xC0) { errors += 1; i += 1 } // lone continuation
      else if (lead < 0xC2) { errors += 1; overlong += 1; i += 1 } // C0/C1
      else if (lead < 0xE0) { // 2-byte
        if (cont(1)) { c2 += 1; i += 2 }
        else { errors += 1; i += 1 }
      } else if (lead < 0xF0) { // 3-byte
        val lo = if (lead == 0xE0) 0xA0 else 0x80
        val hi = if (lead == 0xED) 0x9F else 0xBF
        val b1 = if (i + 1 < n) b(i + 1) & 0xFF else -1
        if (b1 >= lo && b1 <= hi) {
          if (cont(2)) { c3 += 1; i += 3 }
          else { errors += 1; i += 2 } // maximal subpart: lead+b1
        } else {
          if (lead == 0xE0 && b1 >= 0x80 && b1 < 0xA0) overlong += 1
          if (lead == 0xED && b1 >= 0xA0 && b1 <= 0xBF) surrogate += 1
          errors += 1; i += 1
        }
      } else if (lead < 0xF5) { // 4-byte
        val lo = if (lead == 0xF0) 0x90 else 0x80
        val hi = if (lead == 0xF4) 0x8F else 0xBF
        val b1 = if (i + 1 < n) b(i + 1) & 0xFF else -1
        if (b1 >= lo && b1 <= hi) {
          if (cont(2)) {
            if (cont(3)) { c4 += 1; i += 4 }
            else { errors += 1; i += 3 }
          } else { errors += 1; i += 2 }
        } else {
          if (lead == 0xF0 && b1 >= 0x80 && b1 < 0x90) overlong += 1
          if (lead == 0xF4 && b1 >= 0x90 && b1 <= 0xBF) oob += 1
          errors += 1; i += 1
        }
      } else { errors += 1; oob += 1; i += 1 } // F5..FF
    }
    InternalRow(ascii + c2 + c3 + c4, ascii, c2, c3, c4,
      errors, overlong, surrogate, oob)
  }

  /** Deterministic payload builder: the document's (ASCII) text bytes
    * plus a planted tail by class c = doc_id % 7 — 0: clean; 1:
    * truncated 2-byte lead (1 err); 2: overlong '/' C0 AF (2 err, 1
    * overlong); 3: lone continuation (1 err); 4: CP-1252 curly quotes
    * 93 94 (2 err); 5: CESU-8 surrogate half ED A0 80 (3 err, 1
    * surrogate); 6: valid U+1F600 + U+20AC (0 err, +1 4-byte, +1
    * 3-byte). */
  def payload(text: UTF8String, docId: Long): Array[Byte] = {
    val raw = text.getBytes
    val tail: Array[Byte] = (docId % 7) match {
      case 1 => Array(0xC3.toByte)
      case 2 => Array(0xC0.toByte, 0xAF.toByte)
      case 3 => Array(0x80.toByte)
      case 4 => Array(0x93.toByte, 0x94.toByte)
      case 5 => Array(0xED.toByte, 0xA0.toByte, 0x80.toByte)
      case 6 => Array(0xF0.toByte, 0x9F.toByte, 0x98.toByte, 0x80.toByte,
        0xE2.toByte, 0x82.toByte, 0xAC.toByte)
      case _ => Array.emptyByteArray
    }
    val out = new Array[Byte](raw.length + tail.length)
    System.arraycopy(raw, 0, out, 0, raw.length)
    System.arraycopy(tail, 0, out, raw.length, tail.length)
    out
  }
}

/** Column-API face. */
object Utf8Exprs {
  /** (text, doc_id) → byte payload with the planted corruption tail. */
  def utf8Payload(text: Column, docId: Column): Column =
    Native.call("utf8_payload", Utf8Audit, "payload", BinaryType)(text, docId)
  /** bytes → UTF-8 audit struct. */
  def utf8Audit(payload: Column): Column =
    Native.call("utf8_audit", Utf8Audit, "audit", Utf8Audit.schema)(payload)
}
