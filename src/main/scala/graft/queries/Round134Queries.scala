package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{HtmlExprs, VttExprs}
import graft.streaming.Drain.drain

/** Hundred-thirty-fourth batch — captions + the HTML gate on the
  * stream:
  *
  *  - t76: WebVTT cue census (functions/WebVtt.scala) — the caption/
  *    transcript plane of video training data. Real spec parsing:
  *    signature line, cue blocks with optional identifiers, BOTH
  *    timestamp forms (HH:MM:SS.mmm and MM:SS.mmm — the fixture's
  *    start offsets cross the one-hour boundary so both are
  *    exercised), cue settings tolerated, NOTE comment blocks
  *    skipped. Cue counts, the summed timeline and payload character
  *    mass replay closed-form per doc_id.
  *  - e42: t72's HTML tokenizer at INGEST — markup → text per
  *    arriving payload, per-source rollup in complete mode; batch
  *    parity oracle-proven row-for-row.
  *
  * Scale: per-row parse + bounded rollup, the same embarrassingly-
  * parallel shape as the rest of the ingest front door.
  */
object Round134Queries extends QueryModule {

  // ── t76: WebVTT cue census ───────────────────────────────────────────

  def t76_webvtt_cues(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        VttExprs.vttCensus(
          VttExprs.vttFromText(col("text"), col("doc_id"))).as("c"))
      .select(col("doc_id"),
        col("c.n_cues").as("n_cues"), col("c.n_notes").as("n_notes"),
        col("c.n_with_id").as("n_with_id"),
        col("c.total_duration_ms").as("total_duration_ms"),
        col("c.first_start_ms").as("first_start_ms"),
        col("c.last_end_ms").as("last_end_ms"),
        col("c.payload_chars").as("payload_chars"))
      .orderBy(col("doc_id"))
  }

  // ── e42: HTML → text extraction at ingest (stream) ───────────────────

  def e42_stream_html_extract(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val raw = Tables.stream(s, dir, "documents", docs.schema)
    val agg = raw
      .select(col("source"), col("text"),
        HtmlExprs.htmlExtract(
          HtmlExprs.htmlFromText(col("text"), col("doc_id"))).as("ex"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("ex.body"))).as("sum_body_len"),
        sum(col("ex.n_links").cast("long")).as("n_links"),
        sum(when(translate(col("ex.body"), "\n", " ") === col("text"), 1L)
          .otherwise(0L)).as("n_roundtrip"))
    drain(agg, "complete").orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t76_webvtt_cues"         -> (t76_webvtt_cues _),
    "e42_stream_html_extract" -> (e42_stream_html_extract _))

  val oracles: Map[String, String] = Map(
    // fixture rules: n = 2 + doc_id%4 cues; cue j: start doc_id*1000 +
    // j*2500, duration 2000 + 100*(j%5), id line when (doc_id+j)%2=0,
    // payload = word[j % nWords]; one NOTE block
    "t76_webvtt_cues" ->
      """WITH d AS (
        |  SELECT doc_id, 2 + doc_id % 4 AS n,
        |    string_split(text, ' ') AS w
        |  FROM documents),
        |cue AS (
        |  SELECT doc_id, n,
        |    2000 + 100 * (j.j % 5) AS dur,
        |    length(list_extract(w, CAST(j.j % length(w) AS INT) + 1)) AS wl,
        |    CASE WHEN (doc_id + j.j) % 2 = 0 THEN 1 ELSE 0 END AS hid
        |  FROM d CROSS JOIN (SELECT unnest(range(0, 6)) AS j) j
        |  WHERE j.j < n)
        |SELECT doc_id,
        |  CAST(MAX(n) AS INT) AS n_cues,
        |  CAST(1 AS INT) AS n_notes,
        |  CAST(SUM(hid) AS INT) AS n_with_id,
        |  CAST(SUM(dur) AS BIGINT) AS total_duration_ms,
        |  CAST(doc_id * 1000 AS BIGINT) AS first_start_ms,
        |  CAST(doc_id * 1000 + (MAX(n) - 1) * 2500 + 2000
        |    + 100 * ((MAX(n) - 1) % 5) AS BIGINT) AS last_end_ms,
        |  CAST(SUM(wl) AS BIGINT) AS payload_chars
        |FROM cue GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // t72's closed forms rolled per source (stream/batch parity)
    "e42_stream_html_extract" ->
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
        |  CAST(COUNT(*) AS BIGINT) AS n_roundtrip
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)
}
