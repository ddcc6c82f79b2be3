package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Thirty-third batch — operational-analytics shapes:
  *
  *  - q88: seasonal traffic profile — each concrete hour scored against
  *    its (day-of-week, hour-of-day) slot's month-long profile in integer
  *    basis points; the baseline layer under q82's trailing-window
  *    anomaly monitor (q82 catches spikes vs *recent* traffic, q88 vs
  *    the *seasonal* norm).
  *  - q89: clamped running balance per user — the inventory/credit
  *    semantics (balance cannot go below zero) whose clamp makes the
  *    recurrence non-associative: inexpressible as a window SUM, so it
  *    runs as [[graft.operators.OrderedScan]]'s secondary-sort linear
  *    scan. The oracle replays the fold row by row in a recursive CTE.
  *  - q90: k-anonymity census — equivalence-class size histogram over a
  *    quasi-identifier tuple (nation, segment, $1000 balance band), the
  *    privacy gate a dataset passes before release (Sweeney 2002).
  *    Classes below k=5 are the re-identification risk surface.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round33Queries extends QueryModule {

  // ── q88: day-of-week × hour-of-day profile. dow is computed portably
  //        as days-since-Monday-2024-01-01 mod 7 (no engine dayofweek
  //        convention dependence). Two aggregates: concrete hours (the
  //        fact layer), then 168 profile slots (sketch-sized); the scoring
  //        join broadcasts the profile. dev_bp cross-multiplies instead
  //        of dividing by the slot mean — exact integers, q82's trick. ───
  def q88_seasonal_profile(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val hourly = raw
      .groupBy(date_trunc("hour", Tables.tsMicros(raw)).as("hour"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("dow",
        (datediff(to_date(col("hour")), lit(java.sql.Date.valueOf("2024-01-01"))) % 7)
          .cast(LongType))
      .withColumn("hod", hour(col("hour")).cast(LongType))
    val profile = hourly.groupBy(col("dow"), col("hod"))
      .agg(sum(col("cnt")).as("slot_total"), count(lit(1)).as("n_slots"))
    hourly.join(broadcast(profile), Seq("dow", "hod"))
      .select(col("hour"), col("dow"), col("hod"), col("cnt"),
        col("slot_total"), col("n_slots"),
        expr("(cnt * n_slots * 10000) div slot_total").as("dev_bp"))
      .withColumn("is_hot", col("dev_bp") >= 15000)
      .orderBy(col("hour"))
  }

  // ── q89: credits (purchase/signup) add value cents, everything else
  //        debits; balance floors at zero. One exchange (hash by user) +
  //        one in-partition sort + one linear scan — the window-shuffle
  //        cost with fold semantics windows can't express. ───────────────
  def q89_capped_balance(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val ev = raw.withColumn("ts_us", Tables.tsMicros(raw))
      .withColumn("cents", round(col("value") * 100).cast(LongType))
      .withColumn("delta",
        when(col("event_type").isin("purchase", "signup"), col("cents"))
          .otherwise(-col("cents")))
    graft.operators.OrderedScan
      .cappedBalance(ev, col("user_id"),
        Seq(col("ts_us"), col("event_id")), col("delta"))
      .withColumnRenamed("k", "user_id")
      .orderBy(col("user_id"))
  }

  // ── q90: quasi-identifier = (nation, segment, $1000 balance band via
  //        cents div 100000). Two aggregates — classes, then the size
  //        census; at any scale both are group-by shuffles on bounded
  //        key spaces. ───────────────────────────────────────────────────
  def q90_k_anonymity(s: SparkSession, dir: String): DataFrame = {
    val cls = Tables.load(s, dir, "customer")
      .select(col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
        expr("cast(round(c_acctbal * 100) as bigint) div 100000")
          .as("band"))
      .groupBy(col("nat"), col("seg"), col("band"))
      .agg(count(lit(1)).as("class_size"))
    cls.groupBy(col("class_size"))
      .agg(count(lit(1)).as("n_classes"),
        (count(lit(1)) * col("class_size")).as("n_records"))
      .withColumn("at_risk", col("class_size") < 5)
      .orderBy(col("class_size"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q88_seasonal_profile" -> (q88_seasonal_profile _),
    "q89_capped_balance"   -> (q89_capped_balance _),
    "q90_k_anonymity"      -> (q90_k_anonymity _))

  val oracles: Map[String, String] = Map(
    "q88_seasonal_profile" ->
      """WITH hourly AS (
        |  SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
        |    AS hour, COUNT(*) AS cnt
        |  FROM events GROUP BY 1),
        |slotted AS (
        |  SELECT hour, cnt,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(hour AS DATE)) % 7
        |      AS BIGINT) AS dow,
        |    CAST(EXTRACT(hour FROM hour) AS BIGINT) AS hod
        |  FROM hourly),
        |profile AS (
        |  SELECT dow, hod, CAST(SUM(cnt) AS BIGINT) AS slot_total,
        |    COUNT(*) AS n_slots
        |  FROM slotted GROUP BY 1, 2)
        |SELECT s.hour, s.dow, s.hod, s.cnt, p.slot_total, p.n_slots,
        |  (s.cnt * p.n_slots * 10000) // p.slot_total AS dev_bp,
        |  (s.cnt * p.n_slots * 10000) // p.slot_total >= 15000 AS is_hot
        |FROM slotted s JOIN profile p USING (dow, hod)
        |ORDER BY s.hour""".stripMargin,
    "q89_capped_balance" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    CASE WHEN event_type IN ('purchase', 'signup')
        |         THEN CAST(ROUND(value*100) AS BIGINT)
        |         ELSE -CAST(ROUND(value*100) AS BIGINT) END AS delta
        |  FROM events),
        |r AS MATERIALIZED (
        |  SELECT user_id, delta,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM e),
        |walk(user_id, rn, bal, mx, clamps) AS (
        |  SELECT user_id, rn, GREATEST(delta, 0),
        |    GREATEST(delta, 0),
        |    CASE WHEN delta < 0 THEN 1::BIGINT ELSE 0::BIGINT END
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.user_id, r.rn,
        |    GREATEST(w.bal + r.delta, 0),
        |    GREATEST(w.mx, GREATEST(w.bal + r.delta, 0)),
        |    w.clamps +
        |      CASE WHEN w.bal + r.delta < 0 THEN 1 ELSE 0 END
        |  FROM walk w JOIN r ON r.user_id = w.user_id AND r.rn = w.rn + 1),
        |n AS (SELECT user_id, COUNT(*) AS n_steps FROM r GROUP BY 1)
        |SELECT w.user_id, n.n_steps,
        |  CAST(w.clamps AS BIGINT) AS n_clamps,
        |  CAST(w.mx AS BIGINT) AS max_balance,
        |  CAST(w.bal AS BIGINT) AS final_balance
        |FROM walk w JOIN n ON n.user_id = w.user_id AND w.rn = n.n_steps
        |ORDER BY w.user_id""".stripMargin,
    "q90_k_anonymity" ->
      """WITH cls AS (
        |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) // 100000 AS band,
        |    COUNT(*) AS class_size
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT class_size, COUNT(*) AS n_classes,
        |  CAST(COUNT(*) * class_size AS BIGINT) AS n_records,
        |  class_size < 5 AS at_risk
        |FROM cls GROUP BY class_size ORDER BY class_size""".stripMargin)
}
