package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WebVTT parsing (W3C "WebVTT: The Web Video Text Tracks Format") —
  * the caption/transcript plane of video training data: every
  * video+text pair pipeline aligns caption cues to frames, and the cue
  * timeline is what drives clip sampling (m12) and caption-text
  * extraction.
  *
  * Real per the spec:
  *  - the `WEBVTT` file signature (optional trailing header text);
  *  - cue blocks separated by blank lines: optional cue identifier
  *    line (any line without `-->`), the timing line
  *    `start --> end [settings]`, then payload lines;
  *  - both timestamp forms, `HH:MM:SS.mmm` (hours ≥ 1, 2+ digits) and
  *    the short `MM:SS.mmm`, parsed to integer milliseconds;
  *  - cue settings after the end timestamp (e.g. `align:start`)
  *    tolerated and ignored;
  *  - `NOTE` comment blocks skipped whole.
  *
  * The deterministic fixture (encode) emits per-document cue tracks
  * exercising both timestamp forms, optional identifiers, settings and
  * a NOTE block; the t76 oracle replays cue counts, the summed
  * timeline and payload character mass closed-form.
  */
object WebVtt {

  /** Fixture rules (oracle-replayed): nCues = 2 + doc_id % 4; cue j
    * starts at doc_id*1000 + j*2500 ms, ends 2000 + 100*(j%5) ms
    * later; cue id line when (doc_id+j)%2==0; settings when j%3==0;
    * payload = word[j % nWords] of the document text; one NOTE block
    * after cue 0. */
  def encode(text: UTF8String, docId: Long): UTF8String = {
    val words = text.toString.split(" ")
    val n = (2 + docId % 4).toInt
    val sb = new java.lang.StringBuilder(256)
    sb.append("WEBVTT - graft fixture\n\n")
    var j = 0
    while (j < n) {
      if ((docId + j) % 2 == 0) sb.append("cue-").append(j).append('\n')
      val start = docId * 1000 + j * 2500
      val end = start + 2000 + 100 * (j % 5)
      sb.append(fmt(start)).append(" --> ").append(fmt(end))
      if (j % 3 == 0) sb.append(" align:start position:10%")
      sb.append('\n')
      sb.append(words((j % words.length).toInt)).append('\n')
      sb.append('\n')
      if (j == 0) sb.append("NOTE this comment block must be skipped\n\n")
      j += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** ms → WebVTT timestamp; short MM:SS.mmm form when under an hour. */
  def fmt(ms: Long): String = {
    val h = ms / 3600000
    val m = (ms % 3600000) / 60000
    val s = (ms % 60000) / 1000
    val f = ms % 1000
    if (h > 0) f"$h%02d:$m%02d:$s%02d.$f%03d" else f"$m%02d:$s%02d.$f%03d"
  }

  /** WebVTT timestamp → ms; throws on malformed input. */
  def parseTs(ts: String): Long = {
    val parts = ts.split(":")
    require(parts.length == 2 || parts.length == 3, s"vtt: bad timestamp $ts")
    val secMs = parts.last.split("\\.")
    require(secMs.length == 2 && secMs(1).length == 3, s"vtt: bad ms in $ts")
    val sec = secMs(0).toLong
    val ms = secMs(1).toLong
    val min = parts(parts.length - 2).toLong
    val h = if (parts.length == 3) parts(0).toLong else 0L
    require(sec < 60 && min < 60, s"vtt: field out of range in $ts")
    ((h * 60 + min) * 60 + sec) * 1000 + ms
  }

  val schema: StructType = StructType(Seq(
    StructField("n_cues", IntegerType, nullable = false),
    StructField("n_notes", IntegerType, nullable = false),
    StructField("n_with_id", IntegerType, nullable = false),
    StructField("total_duration_ms", LongType, nullable = false),
    StructField("first_start_ms", LongType, nullable = false),
    StructField("last_end_ms", LongType, nullable = false),
    StructField("payload_chars", LongType, nullable = false)))

  /** Parse a WebVTT document → census row. */
  def parseRow(vtt: UTF8String): InternalRow = {
    val lines = vtt.toString.split("\n", -1)
    require(lines.nonEmpty && lines(0).startsWith("WEBVTT"),
      "vtt: missing WEBVTT signature")
    var i = 1
    val n = lines.length
    var cues = 0; var notes = 0; var withId = 0
    var totalDur = 0L; var firstStart = -1L; var lastEnd = -1L
    var payloadChars = 0L
    while (i < n) {
      // skip blank separators
      while (i < n && lines(i).trim.isEmpty) i += 1
      if (i < n) {
        if (lines(i).startsWith("NOTE")) {
          notes += 1
          while (i < n && lines(i).trim.nonEmpty) i += 1 // to block end
        } else {
          // optional identifier line: no "-->"
          var hadId = false
          if (!lines(i).contains("-->")) { hadId = true; i += 1 }
          require(i < n && lines(i).contains("-->"),
            s"vtt: expected timing line at $i")
          val timing = lines(i)
          i += 1
          val arrow = timing.indexOf("-->")
          val start = parseTs(timing.substring(0, arrow).trim)
          val afterArrow = timing.substring(arrow + 3).trim
          val endStr = afterArrow.takeWhile(c => c != ' ' && c != '\t')
          val end = parseTs(endStr)
          require(end >= start, "vtt: cue ends before it starts")
          cues += 1
          if (hadId) withId += 1
          totalDur += end - start
          if (firstStart < 0) firstStart = start
          lastEnd = math.max(lastEnd, end)
          // payload lines until blank
          while (i < n && lines(i).trim.nonEmpty) {
            payloadChars += lines(i).length
            i += 1
          }
        }
      }
    }
    InternalRow(cues, notes, withId, totalDur,
      math.max(firstStart, 0L), math.max(lastEnd, 0L), payloadChars)
  }
}

/** Column-API face. */
object VttExprs {
  /** (text, doc_id) → deterministic WebVTT track. */
  def vttFromText(text: Column, docId: Column): Column =
    Native.call("vtt_from_text", WebVtt, "encode", StringType)(text, docId)
  /** vtt text → cue census struct. */
  def vttCensus(vtt: Column): Column =
    Native.call("vtt_census", WebVtt, "parseRow", WebVtt.schema)(vtt)
}
