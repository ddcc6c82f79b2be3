package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Fifty-second batch — changepoint detection and burstiness:
  *
  *  - q103: Page's CUSUM changepoint statistic (Page 1954) over each
  *    event type's daily series — S_d = max(0, S_{d−1} + (x_d − k))
  *    with k = the series' own daily mean: exactly the clamped fold
  *    [[graft.operators.OrderedScan.cappedBalance]] already executes,
  *    applied to deltas. The peak CUSUM is the change evidence; resets
  *    (clamps) count the below-target stretches. Third use of the
  *    ordered-scan operator, zero new operator code.
  *  - t33: Fano-factor burstiness of catalog items across days —
  *    variance-to-mean of per-day counts in exact integer basis points
  *    (ZERO days included via the dense day grid); bursty items
  *    (F ≫ 1) cluster in time, Poisson-like items hover at F ≈ 1 —
  *    the temporal-concentration feature next to q87's recency decay.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round52Queries extends QueryModule {

  // ── q103: daily counts per type (dense 30-day grid so quiet days
  //        subtract), k = total div 30; one secondary-sort scan. ────────
  def q103_cusum(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val daily = raw
      .withColumn("day", to_date(Tables.tsMicros(raw)))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("x"))
    cusumFromDaily(s, daily)
  }

  /** Grid → targets → clamped scan → alarm, from a (event_type, day, x)
    * daily-count frame. Shared by q103 (batch) and e28 (whose daily
    * counts arrive from the streaming aggregate — the monitor-serving
    * split: the stream maintains the rollup, the changepoint statistic
    * runs over the |types|×30 aggregate at read time). */
  private[queries] def cusumFromDaily(s: SparkSession, daily: DataFrame)
      : DataFrame = {
    val grid = daily.select(col("event_type")).distinct()
      .crossJoin(s.range(30).select(
        expr("date_add(DATE '2024-01-01', CAST(id AS INT))").as("day")))
    val dense = grid.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("x"), lit(0L)).as("x"))
    val targets = dense.groupBy(col("event_type"))
      .agg(expr("sum(x) div 30").as("k"), sum(col("x")).as("total"))
    val deltas = dense.join(broadcast(targets), "event_type")
      .withColumn("delta", col("x") - col("k"))
    // the scan keys by LONG: derive a deterministic id from the type
    // string (md5-based — partitioning-independent, unlike
    // monotonically_increasing_id)
    val keyed = deltas.withColumn("tid",
      expr("CAST(conv(substring(md5(event_type), 1, 8), 16, 10) AS BIGINT)"))
    val scanned = graft.operators.OrderedScan.cappedBalance(
        keyed, col("tid"), Seq(col("day")), col("delta"))
      .withColumnRenamed("k", "tid")
    val meta = keyed
      .select(col("tid"), col("event_type"), col("total"), col("k"))
      .distinct()
    meta.join(scanned, "tid")
      .select(col("event_type"), col("total"), col("k"),
        col("n_steps"), col("n_clamps"), col("max_balance"),
        col("final_balance"))
      .withColumn("alarm", col("max_balance") * 10 >= col("total"))
      .orderBy(col("event_type"))
  }

  // ── t33: per-item per-day counts over the dense grid; Fano in bp by
  //        cross-multiplication: F = (nΣx² − (Σx)²) / (n·Σx). ──────────
  def t33_burstiness(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val perDay = raw
      .select(get_json_object(col("props"), "$.k").cast(LongType).as("item"),
        to_date(Tables.tsMicros(raw)).as("day"))
      .groupBy(col("item"), col("day"))
      .agg(count(lit(1)).as("x"))
    perDay.groupBy(col("item"))
      .agg(count(lit(1)).as("n_days_active"),
        sum(col("x")).as("total"),
        sum(col("x") * col("x")).as("sum_sq"))
      .select(col("item"), col("n_days_active"), col("total"),
        // n = 30 (dense grid): zero days contribute nothing to either sum
        expr("((30 * sum_sq - total * total) * 10000) div (30 * total)")
          .as("fano_bp"))
      .orderBy(col("item"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q103_cusum"     -> (q103_cusum _),
    "t33_burstiness" -> (t33_burstiness _))

  val oracles: Map[String, String] = Map(
    "q103_cusum" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT t.event_type,
        |    CAST(DATE '2024-01-01' + CAST(r.range AS INT) AS DATE) AS day
        |  FROM (SELECT DISTINCT event_type FROM daily) t
        |  CROSS JOIN range(0, 30) r),
        |dense AS (
        |  SELECT g.event_type, g.day, COALESCE(d.x, 0) AS x
        |  FROM grid g LEFT JOIN daily d
        |    ON d.event_type = g.event_type AND d.day = g.day),
        |tgt AS (
        |  SELECT event_type, CAST(SUM(x) AS BIGINT) // 30 AS k,
        |    CAST(SUM(x) AS BIGINT) AS total
        |  FROM dense GROUP BY 1),
        |r AS MATERIALIZED (
        |  SELECT d.event_type, d.x - t.k AS delta, t.total, t.k,
        |    ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.day)
        |      AS rn
        |  FROM dense d JOIN tgt t USING (event_type)),
        |walk(event_type, rn, bal, mx, clamps) AS (
        |  SELECT event_type, rn, GREATEST(delta, 0), GREATEST(delta, 0),
        |    CASE WHEN delta < 0 THEN 1::BIGINT ELSE 0::BIGINT END
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.event_type, r.rn, GREATEST(w.bal + r.delta, 0),
        |    GREATEST(w.mx, GREATEST(w.bal + r.delta, 0)),
        |    w.clamps + CASE WHEN w.bal + r.delta < 0 THEN 1 ELSE 0 END
        |  FROM walk w JOIN r ON r.event_type = w.event_type
        |    AND r.rn = w.rn + 1)
        |SELECT w.event_type, t.total, t.k,
        |  CAST(30 AS BIGINT) AS n_steps,
        |  CAST(w.clamps AS BIGINT) AS n_clamps,
        |  CAST(w.mx AS BIGINT) AS max_balance,
        |  CAST(w.bal AS BIGINT) AS final_balance,
        |  w.mx * 10 >= t.total AS alarm
        |FROM walk w JOIN tgt t USING (event_type)
        |WHERE w.rn = 30 ORDER BY w.event_type""".stripMargin,
    "t33_burstiness" ->
      """WITH perday AS (
        |  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2)
        |SELECT item, COUNT(*) AS n_days_active,
        |  CAST(SUM(x) AS BIGINT) AS total,
        |  ((30 * CAST(SUM(x*x) AS BIGINT) -
        |    CAST(SUM(x) AS BIGINT) * CAST(SUM(x) AS BIGINT)) * 10000)
        |    // (30 * CAST(SUM(x) AS BIGINT)) AS fano_bp
        |FROM perday GROUP BY item ORDER BY item""".stripMargin)
}
