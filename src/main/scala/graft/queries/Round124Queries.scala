package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.functions.{ImageExprs, JpegCodec, JpegExprs}

/** Hundred-twenty-fourth batch — the JPEG operating-point and ingest-
  * robustness queries a multimodal pipeline runs before committing a
  * recompression or ingest policy (the a24/a25 "sizing sweep" pattern,
  * applied to the round-12 codec):
  *
  *  - m44: quality sweep — the same block-constant fixture encoded at
  *    quality 25/50/75/90, decoded back, with the quality-scaled Annex K
  *    DC quantizer surfaced as a column. The oracle re-derives the
  *    libjpeg-convention scaling (scale = q<50 ? 5000/q : 200−2q;
  *    clamp((16·scale+50)/100, 1, 255)) and the closed-form decode under
  *    EACH scaled quantizer — the distortion side of the rate-distortion
  *    table an operator reads before picking a recompression quality.
  *  - m45: poison-pill ingest census — one in five payloads truncated to
  *    40 bytes (mid-DQT, guaranteed loud decode failure); the try-stats
  *    path absorbs them as nulls while every intact payload's pixel sum
  *    still hash-matches the closed form. This is the decode posture a
  *    100 TB ingest needs: count and quarantine bad blobs, never kill
  *    the job, never silently zero-fill.
  *
  * Scale: both are per-row decode inside codegen plus one narrow
  * aggregation; the quality sweep is a 4-way union of the same map-only
  * shape.
  *
  * Reference scope: the reference has no media path (tools.py is
  * CSV/JSON/SQL only); beyond-reference LLM-pipeline surface per the
  * build brief.
  */
object Round124Queries extends QueryModule {

  private val Qualities = Seq(25, 50, 75, 90)

  // ── m44: quality-sweep distortion table ────────────────────────────────

  def m44_jpeg_quality_sweep(s: SparkSession, dir: String): DataFrame = {
    // (round 14: a spread/barrier here measured +0.3 s — the 2×2-block
    // encode is cheap per row and the decode side is already parallel
    // behind the posexplode, so the extra exchange never pays for itself)
    Qualities.map { q =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), lit(q.toLong).as("quality"),
          lit(JpegCodec.scaledLuminanceDc(q).toLong).as("q_dc"),
          JpegExprs.encodeJpegGrayBlocks(col("text"), 2, 2, q).as("jpg"))
    }.reduce(_ unionByName _)
      .select(col("doc_id"), col("quality"), col("q_dc"),
        posexplode(ImageExprs.decodePixels(col("jpg"))).as(Seq("i", "v")))
      .select(col("doc_id"), col("quality"), col("q_dc"),
        expr("CAST((i div 16 div 8) * 2 + (i % 16) div 8 AS BIGINT)")
          .as("blk"),
        col("v").cast(LongType).as("v"))
      .groupBy(col("doc_id"), col("quality"), col("q_dc"), col("blk"))
      .agg(min(col("v")).as("v_min"), max(col("v")).as("v_max"),
        count(lit(1)).as("n_px"))
      .orderBy(col("doc_id"), col("quality"), col("blk"))
  }

  // ── m45: truncated-payload ingest census via try-stats ─────────────────

  def m45_jpeg_poison_census(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        JpegExprs.encodeJpegGrayBlocks(col("text"), 2, 2, 50).as("full"))
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, expr("substring(full, 1, 40)"))
          .otherwise(col("full")).as("jpg"))
      .select(col("doc_id"), ImageExprs.tryImageStats(col("jpg")).as("st"))
      .agg(count(lit(1)).as("n_total"),
        count(col("st")).as("n_decoded"),
        sum(when(col("st").isNull, 1L).otherwise(0L)).as("n_poison"),
        sum(col("st.sum_all")).as("sum_pixels"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m44_jpeg_quality_sweep" -> (m44_jpeg_quality_sweep _),
    "m45_jpeg_poison_census" -> (m45_jpeg_poison_census _))

  val oracles: Map[String, String] = Map(
    "m44_jpeg_quality_sweep" ->
      """WITH qs AS (SELECT unnest([25, 50, 75, 90]) AS quality),
        |qt AS (
        |  SELECT quality,
        |    LEAST(GREATEST((16 * (CASE WHEN quality < 50
        |      THEN 5000 // quality ELSE 200 - 2 * quality END) + 50)
        |      // 100, 1), 255) AS q_dc
        |  FROM qs),
        |k AS (SELECT unnest(range(0, 4)) AS blk),
        |b AS (
        |  SELECT d.doc_id, k.blk,
        |    ord(substr(d.text, CAST(k.blk % length(d.text) AS INT) + 1, 1))
        |      % 256 AS v
        |  FROM documents d CROSS JOIN k),
        |j AS (
        |  SELECT b.doc_id, qt.quality, qt.q_dc, b.blk,
        |    8 * (b.v - 128) AS f
        |  FROM b CROSS JOIN qt),
        |d2 AS (
        |  SELECT doc_id, quality, q_dc, blk,
        |    (CASE WHEN f >= 0 THEN (f + q_dc // 2) // q_dc
        |       ELSE -((-f + q_dc // 2) // q_dc) END) * q_dc AS dq
        |  FROM j)
        |SELECT doc_id, CAST(quality AS BIGINT) AS quality,
        |  CAST(q_dc AS BIGINT) AS q_dc, CAST(blk AS BIGINT) AS blk,
        |  LEAST(GREATEST(CAST(FLOOR((dq + 4) / 8.0) AS BIGINT) + 128, 0),
        |    255) AS v_min,
        |  LEAST(GREATEST(CAST(FLOOR((dq + 4) / 8.0) AS BIGINT) + 128, 0),
        |    255) AS v_max,
        |  CAST(64 AS BIGINT) AS n_px
        |FROM d2 ORDER BY doc_id, quality, blk""".stripMargin,
    "m45_jpeg_poison_census" ->
      """WITH k AS (SELECT unnest(range(0, 4)) AS blk),
        |b AS (
        |  SELECT d.doc_id, k.blk,
        |    ord(substr(d.text, CAST(k.blk % length(d.text) AS INT) + 1, 1))
        |      % 256 AS v
        |  FROM documents d CROSS JOIN k
        |  WHERE d.doc_id % 5 <> 0),
        |dec AS (
        |  SELECT doc_id, blk,
        |    LEAST(GREATEST(CAST(FLOOR((
        |      (CASE WHEN 8 * (v - 128) >= 0
        |         THEN (8 * (v - 128) + 8) // 16
        |         ELSE -((-(8 * (v - 128)) + 8) // 16) END) * 16 + 4)
        |      / 8.0) AS BIGINT) + 128, 0), 255) AS vd
        |  FROM b)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_total,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_decoded,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 5 = 0) AS n_poison,
        |  CAST(SUM(64 * vd) AS BIGINT) AS sum_pixels
        |FROM dec""".stripMargin)
}
