package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{H264Exprs, HtmlExprs, Utf8Exprs}
import graft.streaming.Drain.drain

/** Hundred-thirtieth batch — the web-ingest front door:
  *
  *  - t72: HTML → text extraction through a REAL single-pass tokenizer
  *    (functions/HtmlText.scala): quote-aware attributes (a `>` inside
  *    a quoted value must not end the tag), comment stripping,
  *    script/style/title raw-text exclusion, named + decimal + hex
  *    character-reference decoding, block/inline element discipline.
  *    The fixture wraps every document in a full page with decoy
  *    script/style/comment text, attribute traps, links wrapping
  *    existing words and per-rule entity-encoded characters; the gate
  *    proves the tokenizer recovers the EXACT original text (the
  *    `all_roundtrip` hash column) and that no decoy code/CSS leaks.
  *  - t73: byte-level UTF-8 validity audit (functions/Utf8Audit.scala,
  *    Unicode Table 3-7 state machine with maximal-subpart error
  *    counting) over payloads carrying planted corruptions — truncated
  *    leads, overlong C0 AF, lone continuations, CP-1252 mojibake,
  *    CESU-8 surrogate halves, plus genuinely-valid astral characters
  *    that must NOT be flagged.
  *  - e40: t73 as an INGEST GATE on the stream — the encoding audit
  *    scored per arriving payload, per-source counters in complete
  *    mode; batch parity oracle-proven row-for-row.
  *  - m52: H.264 Annex-B NAL census (functions/H264Nal.scala) — real
  *    start-code walk, emulation-prevention-byte stripping (the
  *    fixture plants phantom start codes inside slice payloads), and
  *    Exp-Golomb SPS parsing down to coded width/height. The metadata
  *    plane of video ingest, mirroring m51's MP3 census; SAMPLE decode
  *    stays behind the labeled StubMediaCodec seam.
  *
  * Scale: all four are per-row map work inside whole-stage codegen
  * followed by one bounded aggregation (per source / per doc) — the
  * embarrassingly-parallel shape; no shuffles beyond the final
  * rollup. e40's state is a ≤20-group running aggregate (complete
  * mode over a bounded key domain, the adjudicated memory-sink test
  * vehicle).
  */
object Round130Queries extends QueryModule {

  // ── t72: HTML → text extraction round trip ───────────────────────────

  def t72_html_extract(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("text"))
    docs
      .select(col("source"), col("text"),
        HtmlExprs.htmlExtract(
          HtmlExprs.htmlFromText(col("text"), col("doc_id"))).as("ex"))
      .select(col("source"), col("text"),
        col("ex.title").as("title"), col("ex.body").as("body"),
        col("ex.n_links").as("links"), col("ex.n_blocks").as("blocks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("body"))).as("sum_body_len"),
        sum(col("links").cast("long")).as("n_links"),
        sum(col("blocks").cast("long")).as("n_blocks"),
        sum(length(col("title"))).as("sum_title_len"),
        bool_and(translate(col("body"), "\n", " ") === col("text"))
          .as("all_roundtrip"),
        sum(when(col("body").contains("DECOY"), 1L).otherwise(0L))
          .as("n_decoy_leaks"))
      .orderBy(col("source"))
  }

  // ── t73: UTF-8 validity audit over planted corruptions ───────────────

  def t73_utf8_audit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("text"))
    docs
      .select(col("source"), length(col("text")).as("tl"),
        Utf8Exprs.utf8Audit(
          Utf8Exprs.utf8Payload(col("text"), col("doc_id"))).as("a"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("a.n_errors") === 0, 1L).otherwise(0L)).as("n_clean"),
        sum(col("a.n_errors")).as("n_errors"),
        sum(col("a.n_cp")).as("n_cp"),
        sum(col("a.n_3b")).as("n_3b"),
        sum(col("a.n_4b")).as("n_4b"),
        sum(col("a.overlong_attempts")).as("n_overlong"),
        sum(col("a.surrogate_attempts")).as("n_surrogate"),
        bool_and(col("a.n_ascii") === col("tl")).as("ascii_matches_text"))
      .orderBy(col("source"))
  }

  // ── e40: the UTF-8 audit as a streaming ingest gate ──────────────────

  def e40_stream_utf8_gate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val raw = Tables.stream(s, dir, "documents", docs.schema)
    val agg = raw
      .select(col("source"),
        Utf8Exprs.utf8Audit(
          Utf8Exprs.utf8Payload(col("text"), col("doc_id"))).as("a"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("a.n_errors") === 0, 1L).otherwise(0L)).as("n_clean"),
        sum(col("a.n_errors")).as("n_errors"),
        sum(col("a.surrogate_attempts") + col("a.overlong_attempts"))
          .as("n_suspect"))
    drain(agg, "complete").orderBy(col("source"))
  }

  // ── m52: H.264 Annex-B NAL census ────────────────────────────────────

  def m52_h264_nal_census(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        H264Exprs.h264Census(H264Exprs.h264FromId(col("doc_id"))).as("c"))
      .select(col("doc_id"),
        col("c.n_nals").as("n_nals"), col("c.n_sps").as("n_sps"),
        col("c.n_pps").as("n_pps"), col("c.n_idr").as("n_idr"),
        col("c.n_epb").as("n_epb"), col("c.width").as("width"),
        col("c.height").as("height"),
        col("c.log2_max_frame_num").as("log2_max_frame_num"),
        col("c.level_idc").as("level_idc"),
        col("c.idr_rbsp_bytes").as("idr_rbsp_bytes"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t72_html_extract"     -> (t72_html_extract _),
    "t73_utf8_audit"       -> (t73_utf8_audit _),
    "e40_stream_utf8_gate" -> (e40_stream_utf8_gate _),
    "m52_h264_nal_census"  -> (m52_h264_nal_census _))

  /** Per-doc planted-corruption closed forms for t73/e40 (class =
    * doc_id % 7; see Utf8Audit.payload). */
  private val utf8PerDoc: String =
    """SELECT source, doc_id, length(text) AS tl, doc_id % 7 AS c,
      |  CASE doc_id % 7 WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 1
      |    WHEN 4 THEN 2 WHEN 5 THEN 3 ELSE 0 END AS errs,
      |  CASE doc_id % 7 WHEN 2 THEN 1 ELSE 0 END AS overl,
      |  CASE doc_id % 7 WHEN 5 THEN 1 ELSE 0 END AS surr,
      |  CASE doc_id % 7 WHEN 6 THEN 1 ELSE 0 END AS extra3,
      |  CASE doc_id % 7 WHEN 6 THEN 1 ELSE 0 END AS extra4
      |FROM documents""".stripMargin

  val oracles: Map[String, String] = Map(
    // paragraphing/link/title rules replayed closed-form; body length
    // and the roundtrip boolean prove the tokenizer's exact recovery
    "t72_html_extract" ->
      """WITH d AS (
        |  SELECT doc_id, source, text,
        |    8 + doc_id % 5 AS k,
        |    length(string_split(text, ' ')) AS nw
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, source, text,
        |    (nw + k - 1) // k AS np,
        |    (3 - doc_id % 3) % 3 AS j0
        |  FROM d)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_body_len,
        |  CAST(SUM((np - j0 + 2) // 3) AS BIGINT) AS n_links,
        |  CAST(SUM(np) AS BIGINT) AS n_blocks,
        |  CAST(SUM(4 + length(CAST(doc_id AS VARCHAR))) AS BIGINT)
        |    AS sum_title_len,
        |  TRUE AS all_roundtrip,
        |  CAST(0 AS BIGINT) AS n_decoy_leaks
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "t73_utf8_audit" ->
      s"""WITH per AS ($utf8PerDoc)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN errs = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clean,
        |  CAST(SUM(errs) AS BIGINT) AS n_errors,
        |  CAST(SUM(tl + extra3 + extra4) AS BIGINT) AS n_cp,
        |  CAST(SUM(extra3) AS BIGINT) AS n_3b,
        |  CAST(SUM(extra4) AS BIGINT) AS n_4b,
        |  CAST(SUM(overl) AS BIGINT) AS n_overlong,
        |  CAST(SUM(surr) AS BIGINT) AS n_surrogate,
        |  TRUE AS ascii_matches_text
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "e40_stream_utf8_gate" ->
      s"""WITH per AS ($utf8PerDoc)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN errs = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clean,
        |  CAST(SUM(errs) AS BIGINT) AS n_errors,
        |  CAST(SUM(overl + surr) AS BIGINT) AS n_suspect
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "m52_h264_nal_census" ->
      """SELECT doc_id,
        |  CAST(2 + (1 + doc_id % 3) AS INT) AS n_nals,
        |  CAST(1 AS INT) AS n_sps,
        |  CAST(1 AS INT) AS n_pps,
        |  CAST(1 + doc_id % 3 AS INT) AS n_idr,
        |  CAST(2 * (1 + doc_id % 3) AS INT) AS n_epb,
        |  CAST(16 * (2 + doc_id % 9) AS INT) AS width,
        |  CAST(16 * (2 + doc_id % 7) AS INT) AS height,
        |  CAST(4 + doc_id % 3 AS INT) AS log2_max_frame_num,
        |  CAST(30 AS INT) AS level_idc,
        |  CAST(24 * (1 + doc_id % 3) AS BIGINT) AS idr_rbsp_bytes
        |FROM documents ORDER BY doc_id""".stripMargin)
}
