package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.Drain.drain

/** Forty-seventh batch — the bitmap index joins the streaming side:
  *
  *  - e26: streaming twin of q98's activity bitmaps — per-user day-bit
  *    OR maintained by one stateful aggregation (bit_or is idempotent
  *    and commutative, so micro-batch partials merge losslessly), then
  *    the audience arithmetic runs batch-side on the |users|-row state.
  *    Shares q98's oracle: the streaming bitmap must equal the batch
  *    bitmap cell for cell.
  *
  * Reference scope: extension beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round47Queries extends QueryModule {

  def e26_stream_activity_bitmaps(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.stream(s, dir, "events")
    val agg = raw
      .withColumn("ts_us", Tables.tsMicros(raw))
      .select(col("user_id"),
        expr("shiftleft(CAST(1 AS BIGINT), " +
          "datediff(to_date(ts_us), DATE '2024-01-01'))").as("bit"))
      .groupBy(col("user_id"))
      .agg(expr("bit_or(bit)").as("bm"))
    val w1Mask = 127L
    val w4Mask = 127L << 21
    drain(agg, "complete").agg(
      count(lit(1)).as("n_users"),
      sum(when(expr(s"bm & $w1Mask") =!= 0L, 1L).otherwise(0L))
        .as("n_week1"),
      sum(when(expr(s"bm & $w4Mask") =!= 0L, 1L).otherwise(0L))
        .as("n_week4"),
      sum(when(expr(s"bm & $w1Mask") =!= 0L &&
          expr(s"bm & $w4Mask") =!= 0L, 1L).otherwise(0L))
        .as("n_retained"),
      sum(expr("bit_count(bm)")).as("total_active_days"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e26_stream_activity_bitmaps" -> (e26_stream_activity_bitmaps _))

  val oracles: Map[String, String] = Map(
    // the streaming state must equal the batch bitmaps — q98's oracle
    "e26_stream_activity_bitmaps" ->
      Round46Queries.oracles("q98_activity_bitmaps"))
}
