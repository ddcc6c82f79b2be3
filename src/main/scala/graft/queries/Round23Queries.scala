package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.HistQuantile

/** Twenty-third batch — the quantile sketch applied to derived event
  * metrics:
  *
  *  - q84: time-to-convert quantiles — minutes from a user's first view
  *    to their first subsequent purchase, summarized by the mergeable
  *    histogram sketch (30-minute bins). The metric derivation is two
  *    keyed aggregations; the quantile extraction never touches
  *    per-user rows again. Product analytics' funnel-latency question
  *    answered in the engine's sketch vocabulary.
  *
  * Reference scope: extension beyond the reference surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round23Queries extends QueryModule {

  def q84_convert_time_quantiles(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val e = raw.withColumn("ts_us", Tables.tsMicros(raw))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts_us")).as("us"))
    val firstView = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
    val conv = e.filter(col("event_type") === "purchase")
      .join(firstView, "user_id")
      .filter(col("us") >= col("v_us"))
      .groupBy(col("user_id"))
      .agg(min(col("us") - col("v_us")).as("gap_us"))
    val mins = conv.select(expr("gap_us div 60000000").as("c"))
    HistQuantile.quantiles(
        HistQuantile.histogram(mins, "c", 30L), 30L, Seq(50, 90))
      .orderBy(col("q"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q84_convert_time_quantiles" -> (q84_convert_time_quantiles _))

  val oracles: Map[String, String] = Map(
    "q84_convert_time_quantiles" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |fv AS (
        |  SELECT user_id, MIN(us) AS v_us FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |conv AS (
        |  SELECT e.user_id, MIN(e.us - fv.v_us) AS gap_us
        |  FROM e JOIN fv USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.us >= fv.v_us
        |  GROUP BY 1),
        |mins AS (SELECT gap_us // 60000000 AS c FROM conv),
        |hist AS (SELECT c // 30 AS bin, COUNT(*) AS cnt
        |  FROM mins GROUP BY 1),
        |cum AS (SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum FROM hist),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM hist),
        |qs(q) AS (VALUES (CAST(50 AS BIGINT)), (CAST(90 AS BIGINT))),
        |rk AS (SELECT q, (q * n + 99) // 100 AS rank, n
        |  FROM qs CROSS JOIN tot),
        |est AS (SELECT rk.q, MIN(cum.bin) AS bin
        |  FROM rk JOIN cum ON cum.cum >= rk.rank GROUP BY rk.q)
        |SELECT rk.q, rk.rank, est.bin * 30 AS est_lo,
        |  (est.bin + 1) * 30 - 1 AS est_hi, rk.n
        |FROM rk JOIN est ON est.q = rk.q
        |ORDER BY rk.q""".stripMargin)
}
