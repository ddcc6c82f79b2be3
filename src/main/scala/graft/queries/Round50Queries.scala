package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Fiftieth batch — bitmap windowing, sketch intersection, robust
  * dispersion:
  *
  *  - q100: EXACT sliding 7-day distinct users per day from the q98
  *    activity bitmaps — the query that normally costs one expensive
  *    DISTINCT per window becomes popcount arithmetic over |users|
  *    rows × 24 window masks. The bitmap index's payoff query.
  *  - a15: KMV (theta-sketch-style) set INTERSECTION — the k-minimum-
  *    values sample of the union is an unbiased sample of both sets, so
  *    |A∩B| ≈ (common-in-sample / k) · est(|A∪B|), all exact integer
  *    arithmetic over the a5 hash family. The sketch-side companion of
  *    a13's HLL inclusion–exclusion (direct sampling instead of
  *    register subtraction), exact anchors alongside.
  *  - q101: median absolute deviation of order totals — the robust
  *    dispersion statistic, both medians taken as exact lower-medians
  *    (rank ⌈n/2⌉ with deterministic tie order) so every value is an
  *    integer both engines agree on.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round50Queries extends QueryModule {

  // ── q100: bitmaps once, then 24 broadcast masks (days 6..29; the
  //        first 6 days lack a full window). ───────────────────────────
  def q100_sliding_distinct(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val bitmaps = raw
      .withColumn("ts_us", Tables.tsMicros(raw))
      .select(col("user_id"),
        expr("shiftleft(CAST(1 AS BIGINT), " +
          "datediff(to_date(ts_us), DATE '2024-01-01'))").as("bit"))
      .groupBy(col("user_id"))
      .agg(expr("bit_or(bit)").as("bm"))
    val days = s.range(6, 30).select(col("id").as("day_idx"),
      expr("shiftleft(CAST(127 AS BIGINT), CAST(id AS INT) - 6)")
        .as("mask"))
    bitmaps.crossJoin(broadcast(days))
      .groupBy(col("day_idx"))
      .agg(sum(when(expr("bm & mask") =!= 0L, 1L).otherwise(0L))
        .as("n_distinct_7d"))
      .withColumn("window_start",
        expr("date_add(DATE '2024-01-01', CAST(day_idx AS INT) - 6)"))
      .select(col("day_idx"), col("window_start"), col("n_distinct_7d"))
      .orderBy(col("day_idx"))
  }

  // ── a15: A = click users, B = purchase users. One KMV over the UNION
  //        (64 smallest distinct hashes), membership of each sampled
  //        hash in A and B by semi-joins against the per-side hash
  //        sets, then the ratio estimator. All sketch-sized state. ──────
  def a15_kmv_intersection(s: SparkSession, dir: String): DataFrame = {
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
    val nCommon = sample.join(ha, Seq("h"), "left_semi")
      .join(hb, Seq("h"), "left_semi")
      .agg(count(lit(1)).as("n_common"))
    val exact = ev.filter(col("event_type") === "click")
      .select(col("user_id")).distinct()
      .join(ev.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct(), "user_id")
      .agg(count(lit(1)).as("exact_overlap"))
    stats.crossJoin(nCommon).crossJoin(exact)
      .select(col("m").as("sample_k"), col("n_common"),
        // union estimate (a5's estimator), then the ratio scale-up
        when(col("m") < kk, col("m"))
          .otherwise(expr(s"${(kk - 1).toLong * m48} div kth"))
          .as("union_est"),
        col("exact_overlap"))
      .withColumn("inter_est",
        expr("n_common * union_est div sample_k"))
  }

  // ── q101: lower-median of cents, then lower-median of |x − med|. ─────
  def q101_mad(s: SparkSession, dir: String): DataFrame = {
    // localCheckpoint: five driver actions (two medians' counts + ranks,
    // the final n) re-read the scan otherwise (round 14, guide §1.2)
    val cents = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast(LongType).as("c"))
      .localCheckpoint()
    // distributed global rank (q72/q96's operator), not a
    // single-partition window
    def lowerMedian(df: DataFrame, valueCol: String,
        tieCol: String): DataFrame = {
      val n = df.count()
      val target = (n + 1) / 2
      graft.operators.Rank.globalRank(df, "rn",
          col(valueCol).asc, col(tieCol))
        .filter(col("rn") === target)
        .select(col(valueCol).as("med"))
    }
    val med = lowerMedian(cents, "c", "o_orderkey")
    val dev = cents.crossJoin(broadcast(med))
      .select(col("o_orderkey"), abs(col("c") - col("med")).as("d"),
        col("med"))
    val mad = lowerMedian(dev, "d", "o_orderkey")
      .withColumnRenamed("med", "mad")
    med.select(col("med").as("median_c"))
      .crossJoin(mad.select(col("mad").as("mad_c")))
      .withColumn("n_orders", lit(cents.count()))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q100_sliding_distinct" -> (q100_sliding_distinct _),
    "a15_kmv_intersection"  -> (a15_kmv_intersection _),
    "q101_mad"              -> (q101_mad _))

  val oracles: Map[String, String] = Map(
    "q100_sliding_distinct" ->
      """WITH b AS (
        |  SELECT user_id,
        |    bit_or(CAST(1 AS BIGINT) <<
        |      date_diff('day', DATE '2024-01-01',
        |        CAST(CAST(ts AS TIMESTAMP) AS DATE))) AS bm
        |  FROM events GROUP BY 1),
        |d AS (SELECT r.range AS day_idx,
        |        (127::BIGINT << CAST(r.range - 6 AS INT)) AS mask
        |      FROM range(6, 30) r)
        |SELECT d.day_idx,
        |  CAST(DATE '2024-01-01' + CAST(d.day_idx - 6 AS INT)
        |    AS DATE) AS window_start,
        |  CAST(SUM(CASE WHEN (b.bm & d.mask) <> 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_distinct_7d
        |FROM b CROSS JOIN d
        |GROUP BY d.day_idx ORDER BY d.day_idx""".stripMargin,
    "a15_kmv_intersection" ->
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
        |nc AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_common FROM sample
        |  WHERE h IN (SELECT h FROM ha) AND h IN (SELECT h FROM hb)),
        |ex AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS exact_overlap FROM
        |  (SELECT DISTINCT user_id FROM events WHERE event_type = 'click') a
        |  JOIN (SELECT DISTINCT user_id FROM events
        |        WHERE event_type = 'purchase') b USING (user_id)),
        |est AS (
        |  SELECT st.m AS sample_k, nc.n_common,
        |    CASE WHEN st.m < 64 THEN st.m
        |         ELSE 17732923532771328 // st.kth END AS union_est,
        |    ex.exact_overlap
        |  FROM st CROSS JOIN nc CROSS JOIN ex)
        |SELECT sample_k, n_common, union_est, exact_overlap,
        |  n_common * union_est // sample_k AS inter_est
        |FROM est""".stripMargin,
    "q101_mad" ->
      """WITH c AS (
        |  SELECT o_orderkey,
        |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS c
        |  FROM orders),
        |n AS (SELECT COUNT(*) AS n FROM c),
        |m1 AS (
        |  SELECT c AS med FROM (
        |    SELECT c, ROW_NUMBER() OVER (ORDER BY c, o_orderkey) AS rn
        |    FROM c) x, n WHERE x.rn = (n.n + 1) // 2),
        |dev AS (
        |  SELECT o_orderkey, abs(c.c - m1.med) AS d FROM c CROSS JOIN m1),
        |m2 AS (
        |  SELECT d AS mad FROM (
        |    SELECT d, ROW_NUMBER() OVER (ORDER BY d, o_orderkey) AS rn
        |    FROM dev) x, n WHERE x.rn = (n.n + 1) // 2)
        |SELECT m1.med AS median_c, m2.mad AS mad_c,
        |  CAST(n.n AS BIGINT) AS n_orders
        |FROM m1 CROSS JOIN m2 CROSS JOIN n""".stripMargin)
}
