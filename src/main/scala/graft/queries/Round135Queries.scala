package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Gif89aExprs, MarkdownExprs}
import graft.streaming.Drain.drain

/** Hundred-thirty-fifth batch — the animation plane + markdown at
  * ingest:
  *
  *  - m53: animated GIF89a census (functions/Gif89a.scala) — the
  *    NETSCAPE loop extension, per-frame Graphic Control Extensions
  *    (disposal, centisecond delays), comment blocks skipped, and
  *    every frame's raster decoded through the SAME LZW coder the
  *    single-frame m26 path owns. Frame counts, the delay timeline,
  *    loop count and first/last-frame pixel sums replay closed-form.
  *  - e43: t75's markdown extractor at INGEST — prose recovery per
  *    arriving payload, per-source complete-mode rollup with
  *    row-for-row batch parity.
  */
object Round135Queries extends QueryModule {

  // ── m53: animated GIF frame/timeline census ──────────────────────────

  def m53_animgif_census(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        Gif89aExprs.animGifCensus(
          Gif89aExprs.animGifFromId(col("doc_id"))).as("c"))
      .select(col("doc_id"),
        col("c.n_frames").as("n_frames"),
        col("c.loop_count").as("loop_count"),
        col("c.total_delay_cs").as("total_delay_cs"),
        col("c.max_delay_cs").as("max_delay_cs"),
        col("c.n_disposal_bg").as("n_disposal_bg"),
        col("c.first_frame_sum").as("first_frame_sum"),
        col("c.last_frame_sum").as("last_frame_sum"),
        col("c.n_comments").as("n_comments"))
      .orderBy(col("doc_id"))
  }

  // ── e43: markdown → text at ingest (stream) ──────────────────────────

  def e43_stream_markdown(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val raw = Tables.stream(s, dir, "documents", docs.schema)
    val agg = raw
      .select(col("source"), col("text"), col("doc_id"),
        MarkdownExprs.markdownExtract(
          MarkdownExprs.markdownFromText(col("text"), col("doc_id")))
          .as("ex"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("ex.body"))).as("sum_body_len"),
        sum(col("ex.n_fences").cast("long")).as("n_fences"),
        sum(when(translate(col("ex.body"), "\n", " ") ===
          concat(lit("doc "), col("doc_id"), lit(" "), col("text")), 1L)
          .otherwise(0L)).as("n_roundtrip"))
    drain(agg, "complete").orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m53_animgif_census" -> (m53_animgif_census _),
    "e43_stream_markdown" -> (e43_stream_markdown _))

  val oracles: Map[String, String] = Map(
    // fixture rules: n = 2 + doc_id%3 frames; frame j: delay
    // 10*(1+j%4) cs, disposal 1+j%2 (2 = restore-to-background),
    // pixel(p) = (doc_id + 17j + p) % 251 on 8x8; loop doc_id%5
    "m53_animgif_census" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS n FROM documents)
        |SELECT doc_id,
        |  CAST(n AS INT) AS n_frames,
        |  CAST(doc_id % 5 AS INT) AS loop_count,
        |  CAST(10 * (n + n * (n - 1) // 2) AS BIGINT) AS total_delay_cs,
        |  CAST(10 * n AS INT) AS max_delay_cs,
        |  CAST(n // 2 AS INT) AS n_disposal_bg,
        |  CAST(list_sum(list_transform(range(0, 64),
        |    p -> (doc_id + p) % 251)) AS BIGINT) AS first_frame_sum,
        |  CAST(list_sum(list_transform(range(0, 64),
        |    p -> (doc_id + 17 * (n - 1) + p) % 251)) AS BIGINT)
        |    AS last_frame_sum,
        |  CAST(1 AS INT) AS n_comments
        |FROM d ORDER BY doc_id""".stripMargin,
    // t75's closed forms per source (stream/batch parity)
    "e43_stream_markdown" ->
      """WITH d AS (
        |  SELECT doc_id, source, text,
        |    7 + doc_id % 4 AS k,
        |    length(string_split(text, ' ')) AS nw
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, source, text, (nw + k - 1) // k AS np
        |  FROM d)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(length(text) + 5 + length(CAST(doc_id AS VARCHAR)))
        |    AS BIGINT) AS sum_body_len,
        |  CAST(COUNT(*) AS BIGINT) AS n_fences,
        |  CAST(COUNT(*) AS BIGINT) AS n_roundtrip
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)
}
