package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Seventy-first batch — time-weighted aggregation:
  *
  *  - q113: TWAP (time-weighted average price) — the step-function
  *    integral plain AVG gets wrong whenever observations are
  *    irregular: each event's value HOLDS until the same type's next
  *    event (the last one holds to the Jan-31 horizon), so the average
  *    weights by holding duration, not by tick count. One lead window
  *    per type + one aggregate; exact integers throughout (cents ×
  *    seconds — scaled so Σ products stays under 2⁶³; weights from
  *    truncating µs→s division both engines share). The plain
  *    tick-average rides along so the weighting's effect is visible in
  *    the gated output.
  *
  * Reference scope: extension beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round71Queries extends QueryModule {

  // exclusive horizon: 2024-01-31 00:00:00 UTC in epoch micros
  private val HorizonUs = 1706659200000000L

  def q113_twap(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val ev = raw.select(col("event_type"), col("event_id"),
      unix_micros(Tables.tsMicros(raw)).as("us"),
      expr("cast(round(value * 100) as bigint)").as("cents"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("us"), col("event_id"))
    val held = ev
      .withColumn("next_us",
        coalesce(lead(col("us"), 1).over(w), lit(HorizonUs)))
      .withColumn("w_s", expr("(next_us - us) div 1000000"))
    held.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("w_s")).as("total_weight_s"),
        sum(col("cents") * col("w_s")).as("weighted_sum"),
        sum(col("cents")).as("cents_sum"))
      .select(col("event_type"), col("n_events"), col("total_weight_s"),
        expr("weighted_sum div total_weight_s").as("twap_cents"),
        expr("cents_sum div n_events").as("tick_avg_cents"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q113_twap" -> (q113_twap _))

  val oracles: Map[String, String] = Map(
    "q113_twap" ->
      s"""WITH ev AS (
        |  SELECT event_type, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |held AS (
        |  SELECT event_type, cents,
        |    (COALESCE(LEAD(us) OVER (PARTITION BY event_type
        |       ORDER BY us, event_id), $HorizonUs) - us) // 1000000 AS w_s
        |  FROM ev)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(w_s) AS BIGINT) AS total_weight_s,
        |  CAST(SUM(cents * w_s) AS BIGINT) // CAST(SUM(w_s) AS BIGINT)
        |    AS twap_cents,
        |  CAST(SUM(cents) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
        |    AS tick_avg_cents
        |FROM held GROUP BY event_type ORDER BY event_type""".stripMargin)
}
