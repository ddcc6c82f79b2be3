package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Hundred-first batch — plan introspection, classifier tradeoff
  * curves, and contrast normalization:
  *
  *  - p51: column-level lineage extracted from q3's analyzed Catalyst
  *    plan ([[graft.plans.Lineage]]) — for every output column, the
  *    (table, column) pairs its values derive from, propagated through
  *    joins and aggregates down to the parquet relations. The oracle is
  *    the expected lineage as a literal table: the gate pins the
  *    extractor's exact answer (revenue ← lineitem.{l_extendedprice,
  *    l_discount}; the group keys ← orders.*; predicate-only columns
  *    like c_mktsegment correctly absent under data-lineage semantics).
  *  - t56: ROC operating points for the t49 synthetic classifier at
  *    five thresholds — TP/FP in exact integers, TPR/FPR as the only
  *    rounded ratios; a proper monotone tradeoff curve (TPR 1.0→0.2 as
  *    FPR 0.8→0.0 at sf0.01).
  *  - m35: histogram equalization — the classic contrast remap
  *    new = (cdf(v) − cdf_min)·255 div (n − cdf_min), all integer per
  *    document; equalized rasters span the full [0, 255] range by
  *    construction, which the gate (min/max per doc) verifies.
  *
  * Scale: p51 is metadata work on the driver (plans, not data); t56 is
  * one scan × five thresholds of conditional sums; m35 is a per-doc
  * 64-bin histogram with document-partitioned windows.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round101Queries extends QueryModule {

  // ── p51: column lineage of the q3 join+agg plan ───────────────────────

  def p51_column_lineage(s: SparkSession, dir: String): DataFrame = {
    val triples = graft.plans.Lineage.extract(
      CoreQueries.q3_join_agg(s, dir))
    import s.implicits._
    triples.toDF("out_col", "src_table", "src_col")
      .orderBy(col("out_col"), col("src_table"), col("src_col"))
  }

  // ── t56: ROC operating points ─────────────────────────────────────────

  def t56_roc_points(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.load(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") * 2654435761L % 1000L).as("sm"))
      .withColumn("label",
        when(col("sm") + col("doc_id") * 40503L % 600L >= 800L, 1L)
          .otherwise(0L))
    import s.implicits._
    val ths = Seq(100L, 300L, 500L, 700L, 900L).toDF("th")
    ths.crossJoin(scored)
      .groupBy(col("th"))
      .agg(
        sum(when(col("sm") >= col("th") && col("label") === 1L, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("sm") >= col("th") && col("label") === 0L, 1L)
          .otherwise(0L)).as("fp"),
        sum(col("label")).as("pos"),
        sum(lit(1L) - col("label")).as("neg"))
      .select(col("th"), col("tp"), col("fp"),
        round(col("tp").cast("double") / col("pos"), 6).as("tpr"),
        round(col("fp").cast("double") / col("neg"), 6).as("fpr"))
      .orderBy(col("th"))
  }

  // ── m35: per-document histogram equalization ──────────────────────────

  def m35_hist_equalization(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ImageExprs
    import org.apache.spark.sql.expressions.Window
    val px = Tables.load(s, dir, "documents").select(col("doc_id"),
        ImageExprs.decodePixels(
          ImageExprs.encodeImageFromText(col("text"), "pgm", 8, 8)).as("px"))
      .select(col("doc_id"), explode(col("px")).as("v"))
      .select(col("doc_id"), col("v").cast("long").as("v"))
    val hist = px.groupBy(col("doc_id"), col("v"))
      .agg(count(lit(1)).as("c"))
    val cdf = hist.withColumn("cum",
        sum(col("c")).over(Window.partitionBy(col("doc_id"))
          .orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cdf_min",
        min(col("cum")).over(Window.partitionBy(col("doc_id"))))
    cdf.withColumn("nv", expr(
        """CASE WHEN 64 - cdf_min = 0 THEN 0L
          | ELSE ((cum - cdf_min) * 255) div (64 - cdf_min) END"""
          .stripMargin))
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("nv")).as("eq_sum"),
        min(col("nv")).as("eq_min"), max(col("nv")).as("eq_max"),
        count(lit(1)).as("n_levels"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p51_column_lineage"    -> (p51_column_lineage _),
    "t56_roc_points"        -> (t56_roc_points _),
    "m35_hist_equalization" -> (m35_hist_equalization _))

  val oracles: Map[String, String] = Map(
    "p51_column_lineage" ->
      """SELECT * FROM (VALUES
        |  ('o_orderdate', 'orders', 'o_orderdate'),
        |  ('o_orderkey', 'orders', 'o_orderkey'),
        |  ('o_orderpriority', 'orders', 'o_orderpriority'),
        |  ('revenue', 'lineitem', 'l_discount'),
        |  ('revenue', 'lineitem', 'l_extendedprice'))
        |  AS t(out_col, src_table, src_col)
        |ORDER BY out_col, src_table, src_col""".stripMargin,
    "t56_roc_points" ->
      """WITH scored AS (
        |  SELECT doc_id, (doc_id * 2654435761) % 1000 AS sm,
        |    CASE WHEN (doc_id * 2654435761) % 1000
        |            + (doc_id * 40503) % 600 >= 800 THEN 1 ELSE 0 END
        |      AS label
        |  FROM documents),
        |ths AS (SELECT unnest([100, 300, 500, 700, 900]) AS th)
        |SELECT CAST(t.th AS BIGINT) AS th,
        |  CAST(SUM(CASE WHEN s.sm >= t.th AND s.label = 1 THEN 1 ELSE 0
        |    END) AS BIGINT) AS tp,
        |  CAST(SUM(CASE WHEN s.sm >= t.th AND s.label = 0 THEN 1 ELSE 0
        |    END) AS BIGINT) AS fp,
        |  ROUND(CAST(SUM(CASE WHEN s.sm >= t.th AND s.label = 1 THEN 1
        |    ELSE 0 END) AS DOUBLE) / SUM(s.label), 6) AS tpr,
        |  ROUND(CAST(SUM(CASE WHEN s.sm >= t.th AND s.label = 0 THEN 1
        |    ELSE 0 END) AS DOUBLE) / SUM(1 - s.label), 6) AS fpr
        |FROM ths t CROSS JOIN scored s GROUP BY t.th ORDER BY th"""
        .stripMargin,
    "m35_hist_equalization" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    ord(substr(text, CAST(((i - 1) % length(text)) + 1 AS INT), 1))
        |      % 256 AS v
        |  FROM documents CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
        |hist AS (
        |  SELECT doc_id, v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM px GROUP BY 1, 2),
        |cdf AS (
        |  SELECT doc_id, v, c,
        |    SUM(c) OVER (PARTITION BY doc_id ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM hist),
        |cdfmin AS (
        |  SELECT doc_id, MIN(cum) AS cdf_min FROM cdf GROUP BY doc_id),
        |remap AS (
        |  SELECT c.doc_id, c.c,
        |    CASE WHEN 64 - m.cdf_min = 0 THEN 0
        |      ELSE ((c.cum - m.cdf_min) * 255) // (64 - m.cdf_min) END
        |      AS nv
        |  FROM cdf c JOIN cdfmin m ON c.doc_id = m.doc_id)
        |SELECT doc_id, CAST(SUM(c * nv) AS BIGINT) AS eq_sum,
        |  CAST(MIN(nv) AS BIGINT) AS eq_min,
        |  CAST(MAX(nv) AS BIGINT) AS eq_max,
        |  CAST(COUNT(*) AS BIGINT) AS n_levels
        |FROM remap GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
