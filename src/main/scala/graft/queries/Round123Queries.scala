package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.functions.{ImageExprs, JpegExprs}

/** Hundred-twenty-third batch — REAL baseline JPEG decode
  * ([[graft.functions.JpegCodec]], ITU-T T.81), closing the compressed-
  * image capability gap (the r11 verdict's top next-round ask):
  *
  *  - m42: grayscale JFIF round trip — a block-constant 32×32 raster
  *    (block k = codepoint rule) encodes to a REAL baseline JPEG
  *    (markers, Annex K tables, Huffman DC categories incl. negative
  *    diffs, EOB runs, byte stuffing) and decodes back through the full
  *    marker-parse → Huffman → dequant → integer-IDCT path. For
  *    constant blocks the lossy chain collapses to closed form — F(0,0)
  *    = 8(v−128), half-up quantization by 16, IDCT of a DC-only block =
  *    floor((dq+4)/8)+128 — which the oracle replays in exact integer
  *    SQL; min=max per block also proves the IDCT's DC path is exactly
  *    uniform.
  *  - m43: color 4:2:0 JFIF round trip — 16×16-constant RGB tiles ride
  *    the full three-component pipeline: fixed-point RGB→YCbCr (CCIR
  *    601 constants ×65536, floor division), 2×2 chroma subsampling,
  *    interleaved 16×16 MCUs (4 luma + 2 chroma blocks, all four Annex
  *    K Huffman tables), replication upsampling and fixed-point
  *    YCbCr→RGB on decode. Every step is integer math the oracle spells
  *    with the identical constants.
  *
  * The general AC path (non-constant blocks) is spec-gated instead:
  * JpegCodecSpec cross-decodes against the JDK's independent ImageIO
  * JPEG codec in both directions, bit-exact on gray/4:4:4 at q85.
  *
  * Scale: per-row decode inside codegen — embarrassingly parallel, no
  * shuffle beyond the final block/tile aggregation.
  *
  * Reference scope: the reference has no media path (tools.py is
  * CSV/JSON/SQL only); beyond-reference LLM-pipeline surface per the
  * build brief.
  */
object Round123Queries extends QueryModule {

  // ── m42: grayscale baseline JPEG decode, closed-form DC oracle ────────

  def m42_jpeg_gray_decode(s: SparkSession, dir: String): DataFrame =
    graft.Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"),
        JpegExprs.encodeJpegGrayBlocks(col("text"), 4, 4, 50).as("jpg"))
      .select(col("doc_id"),
        posexplode(ImageExprs.decodePixels(col("jpg"))).as(Seq("i", "v")))
      .select(col("doc_id"),
        expr("CAST((i div 32 div 8) * 4 + (i % 32) div 8 AS BIGINT)")
          .as("blk"),
        col("v").cast(LongType).as("v"))
      .groupBy(col("doc_id"), col("blk"))
      .agg(min(col("v")).as("v_min"), max(col("v")).as("v_max"),
        count(lit(1)).as("n_px"))
      .orderBy(col("doc_id"), col("blk"))

  // ── m43: color 4:2:0 baseline JPEG decode, closed-form tile oracle ────

  def m43_jpeg_color_decode(s: SparkSession, dir: String): DataFrame =
    graft.Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"),
        JpegExprs.encodeJpegColorTiles(col("text"), 2, 2, 50).as("jpg"))
      .select(col("doc_id"),
        posexplode(ImageExprs.decodePixels(col("jpg"))).as(Seq("i", "v")))
      .select(col("doc_id"),
        expr("CAST(((i div 3) div 32 div 16) * 2 + ((i div 3) % 32) div 16 AS BIGINT)")
          .as("tile"),
        expr("CAST(i % 3 AS BIGINT)").as("ch"),
        col("v").cast(LongType).as("v"))
      .groupBy(col("doc_id"), col("tile"), col("ch"))
      .agg(min(col("v")).as("v_min"), max(col("v")).as("v_max"),
        count(lit(1)).as("n_px"))
      .orderBy(col("doc_id"), col("tile"), col("ch"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m42_jpeg_gray_decode"  -> (m42_jpeg_gray_decode _),
    "m43_jpeg_color_decode" -> (m43_jpeg_color_decode _))

  val oracles: Map[String, String] = Map(
    // per block: v → F00 = 8(v−128) → half-up quantize by 16 (Annex K DC
    // at quality 50) → DC-only integer IDCT = floor((dq+4)/8) + 128,
    // clamped; the decoded block is exactly uniform (v_min = v_max)
    "m42_jpeg_gray_decode" ->
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
        |  CAST(64 AS BIGINT) AS n_px
        |FROM q ORDER BY doc_id, blk""".stripMargin,
    // per tile: RGB → YCbCr (constants = round(x·65536), floor division,
    // −1 on the Cb/Cr rounding constant: 8421375 = 128·65536 + 32767) →
    // DC quantize (luma 16 / chroma 17) → DC-only IDCT → YCbCr → RGB
    "m43_jpeg_color_decode" ->
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
        |  CAST(256 AS BIGINT) AS n_px
        |FROM rgb CROSS JOIN ch
        |ORDER BY doc_id, tile, ch""".stripMargin)
}
