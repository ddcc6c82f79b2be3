package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.streaming.Drain.drain

/** Fifty-first batch — the bitmap window goes streaming; Pareto
  * concentration:
  *
  *  - e27: streaming twin of q100's sliding 7-day distinct counts — the
  *    per-user bitmap state is ONE stateful bit_or aggregation; the 24
  *    window masks run batch-side against the |users|-row state table.
  *    Shares q100's oracle cell for cell.
  *  - q102: Pareto/80-20 revenue concentration — the smallest customer
  *    count covering 80% of revenue plus the top-decile share, exact
  *    integer cross-multiplication over the descending spend ranking
  *    (the concentration diagnosis next to q96's Gini).
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round51Queries extends QueryModule {

  def e27_stream_sliding_distinct(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.stream(s, dir, "events")
    val agg = raw
      .withColumn("ts_us", Tables.tsMicros(raw))
      .select(col("user_id"),
        expr("shiftleft(CAST(1 AS BIGINT), " +
          "datediff(to_date(ts_us), DATE '2024-01-01'))").as("bit"))
      .groupBy(col("user_id"))
      .agg(expr("bit_or(bit)").as("bm"))
    val days = s.range(6, 30).select(col("id").as("day_idx"),
      expr("shiftleft(CAST(127 AS BIGINT), CAST(id AS INT) - 6)")
        .as("mask"))
    drain(agg, "complete").crossJoin(broadcast(days))
      .groupBy(col("day_idx"))
      .agg(sum(when(expr("bm & mask") =!= 0L, 1L).otherwise(0L))
        .as("n_distinct_7d"))
      .withColumn("window_start",
        expr("date_add(DATE '2024-01-01', CAST(day_idx AS INT) - 6)"))
      .select(col("day_idx"), col("window_start"), col("n_distinct_7d"))
      .orderBy(col("day_idx"))
  }

  // ── q102: descending spend ranking (distributed global rank), then
  //        the cumulative sum runs over the CUSTOMER aggregate (one
  //        window over |customers| rows, not orders). 5·cum ≥ 4·total
  //        is the integer form of cum ≥ 0.8·total. ─────────────────────
  def q102_pareto(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast(LongType))
        .as("spend_c"))
    val ranked = graft.operators.Rank.globalRank(spend, "p",
      col("spend_c").desc, col("o_custkey"))
    // the running spend also goes through Rank.prefixSum — the rank pass
    // was already distributed, but the cumulative window over |customers|
    // rows was still single-task (round-11 sweep)
    val cum = graft.operators.Rank.prefixSum(ranked,
      "cum_c", col("spend_c"), col("p"))
    val totals = cum.agg(max(col("cum_c")).as("total_c"),
      count(lit(1)).as("n"))
    val joined = cum.crossJoin(broadcast(totals))
    val n80 = joined.filter(col("cum_c") * 5 >= col("total_c") * 4)
      .agg(min(col("p")).as("n_cust_80pct"))
    val topDecile = joined
      .filter(col("p") * 10 <= col("n"))
      .agg(max(col("cum_c")).as("decile_c"))
    totals.crossJoin(n80).crossJoin(topDecile)
      .select(col("n").as("n_customers"), col("total_c"),
        col("n_cust_80pct"),
        expr("n_cust_80pct * 10000 div n").as("pct80_share_of_base_bp"),
        expr("decile_c * 10000 div total_c").as("top_decile_revenue_bp"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e27_stream_sliding_distinct" -> (e27_stream_sliding_distinct _),
    "q102_pareto"                 -> (q102_pareto _))

  val oracles: Map[String, String] = Map(
    // identical windows, identical bitmaps — the batch oracle
    "e27_stream_sliding_distinct" ->
      Round50Queries.oracles("q100_sliding_distinct"),
    "q102_pareto" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |      AS spend_c
        |  FROM orders GROUP BY 1),
        |rk AS (
        |  SELECT spend_c,
        |    ROW_NUMBER() OVER (ORDER BY spend_c DESC, o_custkey) AS p
        |  FROM spend),
        |cum AS (
        |  SELECT p, spend_c,
        |    CAST(SUM(spend_c) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum_c
        |  FROM rk),
        |tot AS (SELECT CAST(MAX(cum_c) AS BIGINT) AS total_c,
        |          CAST(COUNT(*) AS BIGINT) AS n FROM cum),
        |n80 AS (
        |  SELECT MIN(p) AS n_cust_80pct FROM cum CROSS JOIN tot
        |  WHERE cum_c * 5 >= total_c * 4),
        |dec AS (
        |  SELECT CAST(MAX(cum_c) AS BIGINT) AS decile_c
        |  FROM cum CROSS JOIN tot WHERE p * 10 <= n)
        |SELECT tot.n AS n_customers, tot.total_c, n80.n_cust_80pct,
        |  n80.n_cust_80pct * 10000 // tot.n AS pct80_share_of_base_bp,
        |  dec.decile_c * 10000 // tot.total_c AS top_decile_revenue_bp
        |FROM tot CROSS JOIN n80 CROSS JOIN dec""".stripMargin)
}
