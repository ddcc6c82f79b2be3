package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.Tables
import graft.functions.ImageExprs

/** Seventy-third batch — the first COMPRESSED media format, pure JVM:
  *
  *  - m21: per-document pixel statistics through a real PNG round-trip.
  *    Each document's text becomes a 16×16 RGB raster (closed form:
  *    sample i = codepoint(i mod len) mod 256), DEFLATE-compressed into
  *    a spec-complete PNG (signature, IHDR/IDAT/IEND, per-chunk CRC-32)
  *    by [[graft.functions.PngCodec]], and decoded back through chunk
  *    parsing → CRC verification → `java.util.zip.Inflater` → scanline
  *    unfiltering. The encoder cycles the scanline filter `y mod 5`, so
  *    every document exercises ALL FIVE filter types (None, Sub, Up,
  *    Average, Paeth); filters are lossless, so the decoded stats stay
  *    replayable by the same closed-form oracle as m5 — but a broken
  *    Paeth predictor, Average floor, or CRC/inflate bug shifts rows
  *    and fails the hash gate. The payload length is deliberately NOT
  *    projected: DEFLATE output is implementation-defined, the one
  *    value here a SQL oracle cannot replay.
  *  - m22: cross-format decoder invariance — the same 8×8 raster
  *    round-tripped through P6 PPM, 24-bpp BMP, and RGB PNG must decode
  *    to identical pixels (`sum_all` projected per format plus the
  *    equality verdicts). Pins the normalization contract across all
  *    three container quirk-sets at once: a BGR mix-up, a bottom-up
  *    flip miss, or an unfilter bug breaks exactly one column.
  *
  * Reference scope: the reference pipeline has no media path at all
  * (/root/reference/tools.py is CSV/JSON/SQL only); beyond-reference
  * LLM-pipeline surface per the build brief.
  */
object Round73Queries extends QueryModule {

  // ── m21: real PNG decode (DEFLATE + all five scanline filters) ────────

  def m21_image_stats_png(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      .withColumn("payload",
        ImageExprs.encodeImageFromText(col("text"), "png", 16, 16))
      .select(col("doc_id"), ImageExprs.imageStats(col("payload")).as("st"))
      .select(col("doc_id"),
        col("st.width").as("width"), col("st.height").as("height"),
        col("st.n_vals").as("n_vals"),
        col("st.sum_c0").as("sum_r"), col("st.sum_c1").as("sum_g"),
        col("st.sum_c2").as("sum_b"),
        col("st.row0_sum").as("row0_sum"),
        col("st.px_min").as("px_min"), col("st.px_max").as("px_max"))
      .orderBy(col("doc_id"))

  // ── m22: PPM vs BMP vs PNG decoder invariance ─────────────────────────

  def m22_format_invariance(s: SparkSession, dir: String): DataFrame = {
    def sumVia(format: String) =
      ImageExprs.imageStats(
        ImageExprs.encodeImageFromText(col("text"), format, 8, 8))
        .getField("sum_all")
    Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      .select(col("doc_id"),
        sumVia("ppm").as("sum_ppm"),
        sumVia("bmp").as("sum_bmp"),
        sumVia("png").as("sum_png"))
      .withColumn("ppm_eq_bmp", col("sum_ppm") === col("sum_bmp"))
      .withColumn("ppm_eq_png", col("sum_ppm") === col("sum_png"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m21_image_stats_png"   -> (m21_image_stats_png _),
    "m22_format_invariance" -> (m22_format_invariance _))

  /** Closed-form raster replay (the m5 shape): decoded sample i =
    * ord(text[i mod len]) mod 256, per-channel sums step by 3. */
  private def sampleExpr(i: String): String =
    s"ord(substr(text, CAST(($i % length(text)) + 1 AS INT), 1)) % 256"

  private def stepSum(start: Int, step: Int, stop: Int): String =
    s"""CAST(list_sum(list_transform(range($start, $stop, $step),
       |    i -> ${sampleExpr("i")})) AS BIGINT)""".stripMargin

  val oracles: Map[String, String] = Map(
    "m21_image_stats_png" -> {
      val n = 16 * 16 * 3
      s"""SELECT doc_id,
         |  CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
         |  CAST($n AS BIGINT) AS n_vals,
         |  ${stepSum(0, 3, n)} AS sum_r,
         |  ${stepSum(1, 3, n)} AS sum_g,
         |  ${stepSum(2, 3, n)} AS sum_b,
         |  ${stepSum(0, 1, 16 * 3)} AS row0_sum,
         |  CAST(list_min(list_transform(range(0, $n),
         |    i -> ${sampleExpr("i")})) AS INT) AS px_min,
         |  CAST(list_max(list_transform(range(0, $n),
         |    i -> ${sampleExpr("i")})) AS INT) AS px_max
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "m22_format_invariance" -> {
      val n = 8 * 8 * 3
      s"""SELECT doc_id,
         |  ${stepSum(0, 1, n)} AS sum_ppm,
         |  ${stepSum(0, 1, n)} AS sum_bmp,
         |  ${stepSum(0, 1, n)} AS sum_png,
         |  TRUE AS ppm_eq_bmp, TRUE AS ppm_eq_png
         |FROM documents ORDER BY doc_id""".stripMargin
    })
}
