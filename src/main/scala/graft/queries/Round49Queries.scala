package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Forty-ninth batch — signal-agreement auditing:
  *
  *  - t31: Spearman rank correlation between two independent document
  *    quality signals — t2's heuristic quality score and t9's trigram-LM
  *    fluency — in exact integer basis points
  *    (ρ = 1 − 6Σd²/(n(n²−1)), ranks tie-broken by doc_id so both
  *    engines rank identically). The "do our quality signals agree"
  *    audit a data-curation stack runs before trusting either signal as
  *    a filter; near-zero correlation here is itself the finding (the
  *    two signals measure different things on this synthetic corpus).
  *
  * Reference scope: extension beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round49Queries extends QueryModule {

  def t31_score_correlation(s: SparkSession, dir: String): DataFrame = {
    val q = ExtensionQueries.t2_langid(s, dir)
      .select(col("doc_id"), col("quality"))
    val l = Round4Queries.t9_trigram_lm(s, dir)
      .select(col("doc_id"), col("lm_score"))
    val joined = q.join(l, "doc_id")
    // both rank passes via Rank.globalRank (range-partitioned sorts):
    // the frame is one row per document — an unpartitioned row_number
    // here would funnel the corpus through a single task
    val ranked = graft.operators.Rank.globalRank(
      graft.operators.Rank.globalRank(joined,
        "r_q", col("quality"), col("doc_id")),
      "r_l", col("lm_score"), col("doc_id"))
    val stats = ranked.agg(count(lit(1)).as("n"),
      sum((col("r_q") - col("r_l")) * (col("r_q") - col("r_l")))
        .as("sum_d2"))
    // rho_bp = 10000 − 60000·Σd² / (n(n²−1)), sign-split so Spark's
    // truncating div and DuckDB's flooring // agree on negatives
    stats.select(col("n"), col("sum_d2"),
      expr("""CASE WHEN 10000 * (n * (n*n - 1)) >= 60000 * sum_d2
             |  THEN (10000 * (n * (n*n - 1)) - 60000 * sum_d2)
             |       div (n * (n*n - 1))
             |  ELSE -((60000 * sum_d2 - 10000 * (n * (n*n - 1)))
             |       div (n * (n*n - 1))) END""".stripMargin)
        .as("spearman_bp"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t31_score_correlation" -> (t31_score_correlation _))

  val oracles: Map[String, String] = Map(
    "t31_score_correlation" ->
      s"""WITH q AS (
        |  SELECT doc_id, quality FROM (
        |${ExtensionQueries.oracles("t2_langid")}
        |  )),
        |l AS (
        |  SELECT doc_id, lm_score FROM (
        |${Round4Queries.oracles("t9_trigram_lm")}
        |  )),
        |ranked AS (
        |  SELECT q.doc_id,
        |    ROW_NUMBER() OVER (ORDER BY q.quality, q.doc_id) AS r_q,
        |    ROW_NUMBER() OVER (ORDER BY l.lm_score, l.doc_id) AS r_l
        |  FROM q JOIN l USING (doc_id)),
        |st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM((r_q - r_l) * (r_q - r_l)) AS BIGINT) AS sum_d2
        |  FROM ranked)
        |SELECT n, sum_d2,
        |  CASE WHEN 10000 * (n * (n*n - 1)) >= 60000 * sum_d2
        |    THEN (10000 * (n * (n*n - 1)) - 60000 * sum_d2)
        |         // (n * (n*n - 1))
        |    ELSE -((60000 * sum_d2 - 10000 * (n * (n*n - 1)))
        |         // (n * (n*n - 1))) END AS spearman_bp
        |FROM st""".stripMargin)
}
