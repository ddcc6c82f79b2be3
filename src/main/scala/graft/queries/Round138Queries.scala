package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.functions.{ImageExprs, JpegCensusExprs, JpegExprs}

/** Hundred-thirty-eighth batch — REAL progressive JPEG decode (ITU-T
  * T.81 Annex G), upgrading round 12's SOF2 *census* (m54) to full pixel
  * reconstruction: spectral selection, successive approximation (DC
  * first/refine, AC first/refine with EOB runs and correction bits), and
  * a progressive ENCODER whose four-procedure scan script produces
  * conforming SOF2 streams.
  *
  * The oracle lever: progressive is a LOSSLESS REORDERING of the same
  * quantized coefficients a baseline stream carries, so
  * decode(progressive_encode(x)) == decode(baseline_encode(x)) pixel for
  * pixel — m55/m56 therefore replay the EXACT closed forms m42/m43
  * established for the baseline fixtures (DC-only blocks: F(0,0) =
  * 8(v−128), half-up quantization, IDCT = floor((dq+4)/8)+128; the color
  * chain adds the fixed-point CCIR 601 transforms), plus an
  * `is_progressive` column proving the decoded stream really is SOF2.
  * The general AC path (nontrivial spectral bands, EOB runs, refinement
  * correction bits) is spec-gated: JpegCodecSpec cross-decodes against
  * the JDK's independent ImageIO codec in both directions, bit-exact,
  * including ImageIO's own multi-band progressive scan script.
  *
  * Scale: per-row encode+decode inside whole-stage codegen — the m42/m43
  * shape; no shuffle beyond the final block/tile aggregation.
  *
  * Reference scope: the reference has no media path
  * (/root/reference/tools.py is CSV/JSON/SQL only); ITU-T T.81 Annex G.
  */
object Round138Queries extends QueryModule {

  // ── m55: progressive grayscale decode, closed-form DC oracle ──────────

  def m55_jpeg_progressive_gray_decode(s: SparkSession,
      dir: String): DataFrame =
    graft.Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"),
        JpegExprs.encodeJpegGrayBlocksProgressive(col("text"), 4, 4, 50)
          .as("jpg"))
      .withColumn("prog",
        JpegCensusExprs.census(col("jpg")).getField("is_progressive"))
      .select(col("doc_id"), col("prog"),
        posexplode(ImageExprs.decodePixels(col("jpg"))).as(Seq("i", "v")))
      .select(col("doc_id"), col("prog"),
        expr("CAST((i div 32 div 8) * 4 + (i % 32) div 8 AS BIGINT)")
          .as("blk"),
        col("v").cast(LongType).as("v"))
      .groupBy(col("doc_id"), col("blk"))
      .agg(min(col("v")).as("v_min"), max(col("v")).as("v_max"),
        count(lit(1)).as("n_px"),
        min(col("prog")).as("is_progressive"))
      .orderBy(col("doc_id"), col("blk"))

  // ── m56: progressive 4:2:0 color decode, closed-form tile oracle ──────

  def m56_jpeg_progressive_color_decode(s: SparkSession,
      dir: String): DataFrame =
    graft.Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"),
        JpegExprs.encodeJpegColorTilesProgressive(col("text"), 2, 2, 50)
          .as("jpg"))
      .withColumn("prog",
        JpegCensusExprs.census(col("jpg")).getField("is_progressive"))
      .select(col("doc_id"), col("prog"),
        posexplode(ImageExprs.decodePixels(col("jpg"))).as(Seq("i", "v")))
      .select(col("doc_id"), col("prog"),
        expr("CAST(((i div 3) div 32 div 16) * 2 + ((i div 3) % 32) div 16 AS BIGINT)")
          .as("tile"),
        expr("CAST(i % 3 AS BIGINT)").as("ch"),
        col("v").cast(LongType).as("v"))
      .groupBy(col("doc_id"), col("tile"), col("ch"))
      .agg(min(col("v")).as("v_min"), max(col("v")).as("v_max"),
        count(lit(1)).as("n_px"),
        min(col("prog")).as("is_progressive"))
      .orderBy(col("doc_id"), col("tile"), col("ch"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m55_jpeg_progressive_gray_decode" ->
      (m55_jpeg_progressive_gray_decode _),
    "m56_jpeg_progressive_color_decode" ->
      (m56_jpeg_progressive_color_decode _))

  val oracles: Map[String, String] = Map(
    // identical closed form to m42 (progressive == baseline pixels),
    // plus the census-backed is_progressive = TRUE proof column
    "m55_jpeg_progressive_gray_decode" ->
      """WITH k AS (SELECT unnest(range(0, 16)) AS blk),
        |b AS (
        |  SELECT d.doc_id, k.blk,
        |    ord(substr(d.text, CAST(k.blk % length(d.text) AS INT) + 1, 1))
        |      % 256 AS v
        |  FROM documents d CROSS JOIN k),
        |q AS (
        |  SELECT doc_id, blk,
        |    (CASE WHEN 8 * (v - 128) >= 0
        |       THEN (8 * (v - 128) + 8) // 16
        |       ELSE -((-(8 * (v - 128)) + 8) // 16) END) * 16 AS dq
        |  FROM b)
        |SELECT doc_id, CAST(blk AS BIGINT) AS blk,
        |  LEAST(GREATEST(CAST(FLOOR((dq + 4) / 8.0) AS BIGINT) + 128, 0),
        |    255) AS v_min,
        |  LEAST(GREATEST(CAST(FLOOR((dq + 4) / 8.0) AS BIGINT) + 128, 0),
        |    255) AS v_max,
        |  CAST(64 AS BIGINT) AS n_px,
        |  TRUE AS is_progressive
        |FROM q ORDER BY doc_id, blk""".stripMargin,
    // identical closed form to m43
    "m56_jpeg_progressive_color_decode" ->
      """WITH tt AS (SELECT unnest(range(0, 4)) AS tile),
        |src AS (
        |  SELECT d.doc_id, tt.tile,
        |    ord(substr(d.text,
        |      CAST((3 * tt.tile) % length(d.text) AS INT) + 1, 1)) % 256
        |      AS r,
        |    ord(substr(d.text,
        |      CAST((3 * tt.tile + 1) % length(d.text) AS INT) + 1, 1)) % 256
        |      AS g,
        |    ord(substr(d.text,
        |      CAST((3 * tt.tile + 2) % length(d.text) AS INT) + 1, 1)) % 256
        |      AS b
        |  FROM documents d CROSS JOIN tt),
        |ycc AS (
        |  SELECT doc_id, tile,
        |    CAST(FLOOR((19595*r + 38470*g + 7471*b + 32768) / 65536.0)
        |      AS BIGINT) AS y,
        |    CAST(FLOOR((-11059*r - 21709*g + 32768*b + 8421375) / 65536.0)
        |      AS BIGINT) AS cb,
        |    CAST(FLOOR((32768*r - 27439*g - 5329*b + 8421375) / 65536.0)
        |      AS BIGINT) AS cr
        |  FROM src),
        |dq AS (
        |  SELECT doc_id, tile,
        |    (CASE WHEN 8*(y-128) >= 0 THEN (8*(y-128) + 8) // 16
        |       ELSE -((-(8*(y-128)) + 8) // 16) END) * 16 AS ydq,
        |    (CASE WHEN 8*(cb-128) >= 0 THEN (8*(cb-128) + 8) // 17
        |       ELSE -((-(8*(cb-128)) + 8) // 17) END) * 17 AS cbdq,
        |    (CASE WHEN 8*(cr-128) >= 0 THEN (8*(cr-128) + 8) // 17
        |       ELSE -((-(8*(cr-128)) + 8) // 17) END) * 17 AS crdq
        |  FROM ycc),
        |pl AS (
        |  SELECT doc_id, tile,
        |    LEAST(GREATEST(CAST(FLOOR((ydq + 4) / 8.0) AS BIGINT) + 128,
        |      0), 255) AS yd,
        |    LEAST(GREATEST(CAST(FLOOR((cbdq + 4) / 8.0) AS BIGINT) + 128,
        |      0), 255) AS cbd,
        |    LEAST(GREATEST(CAST(FLOOR((crdq + 4) / 8.0) AS BIGINT) + 128,
        |      0), 255) AS crd
        |  FROM dq),
        |rgb AS (
        |  SELECT doc_id, tile,
        |    LEAST(GREATEST(yd + CAST(FLOOR((91881*(crd-128) + 32768)
        |      / 65536.0) AS BIGINT), 0), 255) AS rd,
        |    LEAST(GREATEST(yd + CAST(FLOOR((-22554*(cbd-128)
        |      - 46802*(crd-128) + 32768) / 65536.0) AS BIGINT), 0), 255)
        |      AS gd,
        |    LEAST(GREATEST(yd + CAST(FLOOR((116130*(cbd-128) + 32768)
        |      / 65536.0) AS BIGINT), 0), 255) AS bd
        |  FROM pl),
        |ch AS (SELECT unnest(range(0, 3)) AS ch)
        |SELECT doc_id, CAST(tile AS BIGINT) AS tile,
        |  CAST(ch.ch AS BIGINT) AS ch,
        |  CASE ch.ch WHEN 0 THEN rd WHEN 1 THEN gd ELSE bd END AS v_min,
        |  CASE ch.ch WHEN 0 THEN rd WHEN 1 THEN gd ELSE bd END AS v_max,
        |  CAST(256 AS BIGINT) AS n_px,
        |  TRUE AS is_progressive
        |FROM rgb CROSS JOIN ch
        |ORDER BY doc_id, tile, ch""".stripMargin)
}
