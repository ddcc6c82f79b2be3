package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.Drain.drain

/** Seventy-seventh batch — a streaming reshaping twin, interval
  * concurrency, and the KMV difference estimator:
  *
  *  - e29: streaming twin of q115's PIVOT — events ingested through
  *    `readStream`, the day × event_type rollup maintained as a
  *    streaming aggregation (complete mode), then the drained 150-row
  *    rollup pivoted in batch. The pivot itself is a RESHAPE of a
  *    sketch-sized state table, exactly where it belongs in a streaming
  *    deployment (state stays narrow; presentation rotates at read
  *    time). Shares q115's oracle output shape.
  *  - q117: max concurrent sessions per day — the classic +1/−1
  *    boundary sweep over e2's 30-minute-gap sessions, clipped to
  *    calendar days so the running sum partitions BY DAY (no global
  *    single-partition window — the sweep scales with the busiest day,
  *    not the corpus). Touching-at-a-boundary counts as concurrent
  *    (+1 sorts before −1), which also makes single-event sessions
  *    well-defined. The daily max is order-invariant within timestamp
  *    ties: +1 runs ascend monotonically and −1 runs descend, so the
  *    multiset of prefix values per tie group is fixed.
  *  - a20: KMV (k-minimum-values) DIFFERENCE estimator — |A∖B| from
  *    the same bottom-64 union sample a15's intersection uses:
  *    difference = union_est · (|sample ∩ A∖B| / k). Completes the KMV
  *    set algebra (union a5, intersection a15, difference a20) on one
  *    mergeable bottom-k sample; exact difference joins gate it.
  *
  * Reference scope: beyond-reference LLM-pipeline + analytics surface
  * (the reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round77Queries extends QueryModule {

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  // ── e29: streaming ingest → day×type rollup → batch pivot ─────────────

  def e29_stream_pivot(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.stream(s, dir, "events")
    val agg = raw
      .withColumn("ts_us", Tables.tsMicros(raw))
      .groupBy(date_format(col("ts_us"), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    drain(agg, "complete").localCheckpoint(true)
      .groupBy(col("day"))
      .pivot("event_type", EventTypes)
      .agg(sum(col("n")))
      .na.fill(0L, EventTypes)
      .orderBy(col("day"))
  }

  // ── q117: max concurrent sessions per day (boundary sweep) ────────────

  def q117_max_concurrency(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val e = ev.withColumn("ts_us", Tables.tsMicros(ev))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val gapUs = unix_micros(col("ts_us")) -
      unix_micros(lag(col("ts_us"), 1).over(w))
    val sess = e
      .withColumn("new_sess",
        when(gapUs.isNull || gapUs > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("sess_no", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_no"))
      .agg(min(unix_micros(col("ts_us"))).as("t0"),
        max(unix_micros(col("ts_us"))).as("t1"))
    // clip to calendar days: the sweep partitions by day, so the window
    // scales with the busiest day, never the whole corpus
    val days = s.range(0, 30)
      .select(expr("date_add(DATE '2024-01-01', CAST(id AS INT))").as("day"))
      .withColumn("d0", unix_micros(col("day").cast("timestamp")))
      .withColumn("d1", col("d0") + 86400L * 1000000L)
    val clipped = sess.join(broadcast(days),
        col("t0") < col("d1") && col("t1") >= col("d0"))
      .select(col("day"), col("user_id"), col("sess_no"),
        greatest(col("t0"), col("d0")).as("c0"),
        least(col("t1"), col("d1") - 1).as("c1"))
    val bounds = clipped
      .select(col("day"), col("c0").as("ts"), lit(1L).as("delta"),
        col("user_id"), col("sess_no"))
      .unionByName(clipped.select(col("day"), col("c1").as("ts"),
        lit(-1L).as("delta"), col("user_id"), col("sess_no")))
    val sw = Window.partitionBy(col("day"))
      .orderBy(col("ts"), col("delta").desc, col("user_id"), col("sess_no"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bounds
      .withColumn("cur", sum(col("delta")).over(sw))
      .groupBy(col("day"))
      .agg(sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_sessions"),
        max(col("cur")).as("max_concurrent"))
      .orderBy(col("day"))
  }

  // ── a20: KMV difference estimate ──────────────────────────────────────

  def a20_kmv_difference(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val kk = 64
    val m48 = 1L << 48
    val ev = Tables.load(s, dir, "events").select(col("event_type"), col("user_id"))
    def hashes(et: String): DataFrame = ev
      .filter(col("event_type") === et)
      .select(pmod(CountMin.mix61(col("user_id"), 1299709L, 104729L),
        lit(m48)).as("h"))
      .distinct()
    val ha = hashes("click").localCheckpoint()
    val hb = hashes("purchase").localCheckpoint()
    val sample = ha.unionByName(hb).distinct()
      .orderBy(col("h")).limit(kk)
      .localCheckpoint()
    val stats = sample.agg(count(lit(1)).as("m"), max(col("h")).as("kth"))
    val nAOnly = sample.join(ha, Seq("h"), "left_semi")
      .join(hb, Seq("h"), "left_anti")
      .agg(count(lit(1)).as("n_a_only"))
    val exact = ev.filter(col("event_type") === "click")
      .select(col("user_id")).distinct()
      .join(ev.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct(), Seq("user_id"), "left_anti")
      .agg(count(lit(1)).as("exact_diff"))
    stats.crossJoin(nAOnly).crossJoin(exact)
      .select(col("m").as("sample_k"), col("n_a_only"),
        when(col("m") < kk, col("m"))
          .otherwise(expr(s"${(kk - 1).toLong * m48} div kth"))
          .as("union_est"),
        col("exact_diff"))
      .withColumn("diff_est", expr("n_a_only * union_est div sample_k"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e29_stream_pivot"     -> (e29_stream_pivot _),
    "q117_max_concurrency" -> (q117_max_concurrency _),
    "a20_kmv_difference"   -> (a20_kmv_difference _))

  val oracles: Map[String, String] = Map(
    "e29_stream_pivot" ->
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q117_max_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events),
        |g AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) > 1800000000
        |      OR LAG(ts_us) OVER (PARTITION BY user_id
        |        ORDER BY ts_us, event_id) IS NULL
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |sn AS (
        |  SELECT user_id, ts_us,
        |    SUM(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sess_no
        |  FROM g),
        |sess AS (
        |  SELECT user_id, sess_no, MIN(ts_us) AS t0, MAX(ts_us) AS t1
        |  FROM sn GROUP BY 1, 2),
        |days AS (
        |  SELECT CAST(DATE '2024-01-01' + CAST(d AS INT) AS DATE) AS day,
        |    epoch_us(CAST(DATE '2024-01-01' AS TIMESTAMP))
        |      + d * 86400000000 AS d0
        |  FROM (SELECT unnest(range(0, 30)) AS d)),
        |clipped AS (
        |  SELECT days.day, s.user_id, s.sess_no,
        |    GREATEST(s.t0, days.d0) AS c0,
        |    LEAST(s.t1, days.d0 + 86400000000 - 1) AS c1
        |  FROM sess s JOIN days ON s.t0 < days.d0 + 86400000000
        |    AND s.t1 >= days.d0),
        |bounds AS (
        |  SELECT day, c0 AS ts, 1 AS delta, user_id, sess_no FROM clipped
        |  UNION ALL
        |  SELECT day, c1 AS ts, -1 AS delta, user_id, sess_no FROM clipped),
        |sweep AS (
        |  SELECT day, delta, SUM(delta) OVER (PARTITION BY day
        |    ORDER BY ts, delta DESC, user_id, sess_no
        |    ROWS UNBOUNDED PRECEDING) AS cur
        |  FROM bounds)
        |SELECT day,
        |  CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sessions,
        |  CAST(MAX(cur) AS BIGINT) AS max_concurrent
        |FROM sweep GROUP BY day ORDER BY day""".stripMargin,
    "a20_kmv_difference" ->
      s"""WITH ha AS (
        |  SELECT DISTINCT
        |    ${SketchSql.mix("user_id", "1299709", "104729")}
        |      % 281474976710656 AS h
        |  FROM events WHERE event_type = 'click'),
        |hb AS (
        |  SELECT DISTINCT
        |    ${SketchSql.mix("user_id", "1299709", "104729")}
        |      % 281474976710656 AS h
        |  FROM events WHERE event_type = 'purchase'),
        |u AS (SELECT h FROM ha UNION SELECT h FROM hb),
        |sample AS (SELECT h FROM u ORDER BY h LIMIT 64),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS m, MAX(h) AS kth
        |       FROM sample),
        |na AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_a_only FROM sample
        |  WHERE h IN (SELECT h FROM ha)
        |    AND h NOT IN (SELECT h FROM hb)),
        |ex AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS exact_diff FROM
        |  (SELECT DISTINCT user_id FROM events
        |   WHERE event_type = 'click') a
        |  WHERE a.user_id NOT IN (SELECT DISTINCT user_id FROM events
        |    WHERE event_type = 'purchase')),
        |est AS (
        |  SELECT st.m AS sample_k, na.n_a_only,
        |    CASE WHEN st.m < 64 THEN st.m
        |         ELSE 17732923532771328 // st.kth END AS union_est,
        |    ex.exact_diff
        |  FROM st CROSS JOIN na CROSS JOIN ex)
        |SELECT sample_k, n_a_only, union_est, exact_diff,
        |  n_a_only * union_est // sample_k AS diff_est
        |FROM est""".stripMargin)
}
