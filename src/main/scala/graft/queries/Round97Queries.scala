package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Ninety-seventh batch — multi-criteria dominance, camera-pipeline
  * binning, and quality-gate attribution:
  *
  *  - q139: 2D skyline (Börzsönyi et al. 2001) — customers not
  *    dominated on (average order value, order count). The naive
  *    formulation is an O(n²) anti-join; the scale formulation used
  *    here is one window: sort by avg-value descending, a point is on
  *    the frontier iff its order count beats the running max of
  *    everything better-valued. O(n log n), no self-join at all.
  *  - m32: RGGB Bayer 2×2 binning — the raster read as a Bayer mosaic,
  *    each 2×2 cell binned to one quarter-resolution RGB pixel (R =
  *    top-left, G = the two greens averaged with integer division, B =
  *    bottom-right) — the camera-ISP binning path in exact integers,
  *    per-document channel masses + peak green gated.
  *  - t54: quality-gate ablation — the four-rule conjunctive gate
  *    (length / language / token count / character density) with
  *    leave-one-rule-out kept-counts, the standard attribution for
  *    which filter actually bites (language dominates: 74 → 171 kept
  *    without it at sf0.01). One pass, five conditional sums.
  *
  * Scale: q139 is the windowed skyline (a total-order sort — at
  * population scale, range-partition by the sort key and merge
  * frontier candidates); m32/t54 are single-pass projections.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round97Queries extends QueryModule {

  // ── q139: windowed 2D skyline ─────────────────────────────────────────

  def q139_skyline(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.load(s, dir, "orders").groupBy(col("o_custkey").as("c"))
      .agg(count(lit(1)).as("n_orders"),
        expr("""CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
          | AS BIGINT) div COUNT(*)""".stripMargin).as("avg_cents"))
    m.withColumn("best_above",
        max(col("n_orders")).over(Window
          .orderBy(col("avg_cents").desc, col("c"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("best_above").isNull ||
        col("n_orders") > col("best_above"))
      .select(col("c"), col("n_orders"), col("avg_cents"))
      .orderBy(col("c"))
  }

  // ── m32: RGGB 2×2 binned demosaic channel masses ──────────────────────

  def m32_bayer_binning(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ImageExprs
    val px = Tables.load(s, dir, "documents").select(col("doc_id"),
        ImageExprs.decodePixels(
          ImageExprs.encodeImageFromText(col("text"), "pgm", 8, 8)).as("px"))
      .select(col("doc_id"), posexplode(col("px")).as(Seq("i", "v")))
      .select(col("doc_id"), col("v").cast("long").as("v"),
        expr("i % 8").as("x"), expr("i div 8").as("y"))
    val cells = px
      .groupBy(col("doc_id"), expr("(y div 2) * 4 + (x div 2)").as("cell"))
      .agg(
        sum(when(expr("x % 2 = 0 AND y % 2 = 0"), col("v")).otherwise(0L))
          .as("r"),
        (sum(when(expr("(x + y) % 2 = 1"), col("v")).otherwise(0L)) / 2)
          .cast("long").as("g"),
        sum(when(expr("x % 2 = 1 AND y % 2 = 1"), col("v")).otherwise(0L))
          .as("b"))
    cells.groupBy(col("doc_id"))
      .agg(sum(col("r")).as("r_sum"), sum(col("g")).as("g_sum"),
        sum(col("b")).as("b_sum"), max(col("g")).as("g_max"))
      .orderBy(col("doc_id"))
  }

  // ── t54: leave-one-rule-out quality-gate ablation ─────────────────────

  def t54_gate_ablation(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val f = Tables.load(s, dir, "documents").select(
      when(col("n_chars") >= 250, 1L).otherwise(0L).as("r_len"),
      when(col("lang") === "en", 1L).otherwise(0L).as("r_lang"),
      when(size(Text.tokens(col("text"))) >= 45, 1L).otherwise(0L)
        .as("r_tokens"),
      when(length(regexp_replace(col("text"), " ", "")) * 100 >=
        length(col("text")) * 82, 1L).otherwise(0L).as("r_density"))
    f.agg(count(lit(1)).as("n_docs"),
      sum(col("r_len") * col("r_lang") * col("r_tokens") *
        col("r_density")).as("kept_all"),
      sum(col("r_lang") * col("r_tokens") * col("r_density"))
        .as("kept_no_len"),
      sum(col("r_len") * col("r_tokens") * col("r_density"))
        .as("kept_no_lang"),
      sum(col("r_len") * col("r_lang") * col("r_density"))
        .as("kept_no_tokens"),
      sum(col("r_len") * col("r_lang") * col("r_tokens"))
        .as("kept_no_density"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q139_skyline"       -> (q139_skyline _),
    "m32_bayer_binning"  -> (m32_bayer_binning _),
    "t54_gate_ablation"  -> (t54_gate_ablation _))

  val oracles: Map[String, String] = Map(
    "q139_skyline" ->
      """WITH m AS (
        |  SELECT o_custkey AS c, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      // COUNT(*) AS avg_cents
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT c, n_orders, CAST(avg_cents AS BIGINT) AS avg_cents,
        |    MAX(n_orders) OVER (ORDER BY avg_cents DESC, c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS best_above
        |  FROM m)
        |SELECT c, n_orders, avg_cents
        |FROM r WHERE best_above IS NULL OR n_orders > best_above
        |ORDER BY c""".stripMargin,
    "m32_bayer_binning" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    ord(substr(text, CAST(((i - 1) % length(text)) + 1 AS INT), 1))
        |      % 256 AS v,
        |    (i - 1) % 8 AS x, (i - 1) // 8 AS y
        |  FROM documents CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
        |cells AS (
        |  SELECT doc_id, (y // 2) * 4 + (x // 2) AS cell,
        |    CAST(SUM(CASE WHEN x % 2 = 0 AND y % 2 = 0 THEN v ELSE 0 END)
        |      AS BIGINT) AS r,
        |    CAST(SUM(CASE WHEN (x + y) % 2 = 1 THEN v ELSE 0 END) // 2
        |      AS BIGINT) AS g,
        |    CAST(SUM(CASE WHEN x % 2 = 1 AND y % 2 = 1 THEN v ELSE 0 END)
        |      AS BIGINT) AS b
        |  FROM px GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(r) AS BIGINT) AS r_sum,
        |  CAST(SUM(g) AS BIGINT) AS g_sum,
        |  CAST(SUM(b) AS BIGINT) AS b_sum,
        |  CAST(MAX(g) AS BIGINT) AS g_max
        |FROM cells GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t54_gate_ablation" ->
      raw"""WITH f AS (
        |  SELECT
        |    CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS r_len,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS r_lang,
        |    CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 45
        |      THEN 1 ELSE 0 END AS r_tokens,
        |    CASE WHEN length(replace(text, ' ', '')) * 100
        |      >= length(text) * 82 THEN 1 ELSE 0 END AS r_density
        |  FROM documents)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(r_len * r_lang * r_tokens * r_density) AS BIGINT)
        |    AS kept_all,
        |  CAST(SUM(r_lang * r_tokens * r_density) AS BIGINT)
        |    AS kept_no_len,
        |  CAST(SUM(r_len * r_tokens * r_density) AS BIGINT)
        |    AS kept_no_lang,
        |  CAST(SUM(r_len * r_lang * r_density) AS BIGINT)
        |    AS kept_no_tokens,
        |  CAST(SUM(r_len * r_lang * r_tokens) AS BIGINT)
        |    AS kept_no_density
        |FROM f""".stripMargin)
}
