package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.operators.{CountMin, HistQuantile}
import graft.streaming.Drain.drain

/** Twenty-first batch — range sketching, streaming histogram ingest, and
  * position-based attribution:
  *
  *  - a10: dyadic-interval Count-Min range counts
  *    ([[CountMin.dyadicSketch]]/[[CountMin.rangeEstimate]]) — "how many
  *    shipments in calendar 1995?" answered from a d×w sketch via the
  *    canonical ≤2·log₂(range) dyadic cover, never a scan. Exact count
  *    and the sketch's structural guarantees ride along as hash-gated
  *    flags.
  *  - e20: streaming ingest twin of the a9 histogram — complete-mode
  *    cells equal the batch histogram cell for cell, completing the
  *    sketch-streaming symmetry (CM: e18, HLL: e19, histogram: e20).
  *  - q83: U-shaped (position-based) attribution over purchase-preceding
  *    click windows — 40/20/40 first/middle/last in integer basis
  *    points, remainder to the first touch; q79's last-touch sibling.
  *
  * Reference scope: extension beyond the reference surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round21Queries extends QueryModule {

  private val RangeLo = 9131L // days('1995-01-01')
  private val RangeHi = 9496L // days('1996-01-01')
  private val CmW = 1024

  // ── a10: ship-days → 13-level dyadic CM sketch → 1995 range count.
  //        The generous error envelope (3 × the 2·levels·N/w per-node
  //        budget × node count) is asserted as a column BOTH engines
  //        compute — a sketch drifting outside it hash-mismatches. ──────
  def a10_cms_range(s: SparkSession, dir: String): DataFrame = {
    import CountMin._
    val days = Tables.load(s, dir, "lineitem")
      .select(expr(
        "cast(datediff(cast(l_shipdate as date), date'1970-01-01') as bigint)")
        .as("k"))
      .localCheckpoint()
    val cm = dyadicSketch(days, DefaultFamily, CmW)
    val est = rangeEstimate(cm, DefaultFamily, CmW, RangeLo, RangeHi)
    val ex = days.filter(col("k") >= RangeLo && col("k") < RangeHi)
      .agg(count(lit(1)).as("exact_range"))
    val n = days.agg(count(lit(1)).as("n_rows"))
    val nNodes = dyadicCover(RangeLo, RangeHi).size
    est.crossJoin(ex).crossJoin(n)
      .select(col("cm_range_est"), col("exact_range"),
        (col("cm_range_est") >= col("exact_range")).as("never_undercounts"),
        (col("cm_range_est") <= col("exact_range") +
          expr(s"($nNodes * 78 * n_rows) div $CmW")).as("within_bound"))
  }

  // ── e20: lineitem price cents histogram built through Structured
  //        Streaming (one stateful aggregation, complete mode). ─────────
  def e20_stream_hist_ingest(s: SparkSession, dir: String): DataFrame = {
    val stream = Tables.stream(s, dir, "lineitem")
      .select(round(col("l_extendedprice") * 100).cast(LongType).as("c"))
    val cells = HistQuantile.histogram(stream, "c", 100000L)
    drain(cells, "complete").orderBy(col("bin"))
  }

  // ── q83: credits in basis points per position class. Middles split
  //        2000 by integer division; the remainder goes to the first
  //        touch, so every purchase's credits sum to exactly 10000.
  //        The purchases×clicks meet runs through the bucketized
  //        interval join on (user_id, 30-min bucket) — r7 verdict ask #5:
  //        a power user's clicks meet only the ≤2 buckets each purchase
  //        window overlaps, never the user's whole click history. ───────
  def q83_position_attribution(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val e = raw.withColumn("ts_us", Tables.tsMicros(raw))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts_us").as("p_ts"))
      .withColumn("w_start", col("p_ts") - expr("INTERVAL 30 MINUTES"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"),
        col("ts_us").as("c_ts"))
    val joined = graft.operators.RangeJoin.pointInIntervalKeyed(
        clicks, purchases, Seq("user_id"), "c_ts", "w_start", "p_ts",
        bucketWidthSec = 1800L, endInclusive = true)
      .drop("w_start")
    val pos = joined
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("p_id")).orderBy(col("c_ts"), col("c_id")))
        .cast(LongType))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("p_id"))))
    val each = expr("2000 div (n - 2)")
    val credit = when(col("n") === 1, lit(10000L))
      .when(col("n") === 2, lit(5000L))
      .when(col("rn") === 1,
        lit(4000L) + (lit(2000L) - (col("n") - 2) * each))
      .when(col("rn") === col("n"), lit(4000L))
      .otherwise(each)
    val posName = when(col("rn") === 1, "first")
      .when(col("rn") === col("n"), "last").otherwise("middle")
    pos.select(posName.as("pos"), credit.as("credit"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n_clicks"), sum(col("credit")).as("credit_bp"))
      .orderBy(col("pos"))
  }

  // ── e21: a10's dyadic sketch built through Structured Streaming — the
  //        13-level composite explode is stateless per row, the cell
  //        aggregation is the one stateful op (complete mode). Equal to
  //        the batch sketch cell for cell via the shared oracle CTEs. ───
  def e21_stream_dyadic_cms(s: SparkSession, dir: String): DataFrame = {
    val stream = Tables.stream(s, dir, "lineitem")
      // per-batch repartition before the per-row dyadic expansion
      // (round 14 — see e36's note)
      .repartition(s.sparkContext.defaultParallelism)
      .select(expr(
        "cast(datediff(cast(l_shipdate as date), date'1970-01-01') as bigint)")
        .as("k"))
    val cells = CountMin.dyadicSketch(stream, CountMin.DefaultFamily, CmW)
    drain(cells, "complete").orderBy(col("i"), col("b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a10_cms_range"            -> (a10_cms_range _),
    "e20_stream_hist_ingest"   -> (e20_stream_hist_ingest _),
    "e21_stream_dyadic_cms"    -> (e21_stream_dyadic_cms _),
    "q83_position_attribution" -> (q83_position_attribution _))

  private val cmFam =
    "fam(i, a, b) AS (VALUES (0, 1299709, 104729), (1, 15485863, 1999)," +
      " (2, 32452843, 777767))"

  private val lvlRows: String =
    (0 until CountMin.DyadicLevels).map(l => s"($l, ${1L << l})")
      .mkString(", ")

  /** The cover nodes' composite keys as literals — the same Scala
    * function feeds both engines. */
  private val nodeRows: String =
    CountMin.dyadicCover(RangeLo, RangeHi)
      .map { case (l, idx) => s"(${CountMin.dyadicKey(l, idx)})" }
      .mkString(", ")

  private val nNodesLit: Int = CountMin.dyadicCover(RangeLo, RangeHi).size

  val oracles: Map[String, String] = Map(
    "a10_cms_range" ->
      s"""WITH $cmFam,
        |days AS (
        |  SELECT CAST(datediff('day', DATE '1970-01-01',
        |    CAST(l_shipdate AS DATE)) AS BIGINT) AS k
        |  FROM lineitem),
        |lvl(l, p) AS (VALUES $lvlRows),
        |comp AS (
        |  SELECT (d.k // lvl.p) * 16 + lvl.l AS k
        |  FROM days d CROSS JOIN lvl),
        |cells AS (
        |  SELECT fam.i,
        |    ${SketchSql.bucket("comp.k", "fam.a", "fam.b", CmW)} AS b,
        |    COUNT(*) AS cnt
        |  FROM comp CROSS JOIN fam GROUP BY 1, 2),
        |nodes(k) AS (VALUES $nodeRows),
        |pts AS (
        |  SELECT nodes.k, MIN(COALESCE(cells.cnt, 0)) AS est
        |  FROM nodes CROSS JOIN fam
        |  LEFT JOIN cells ON cells.i = fam.i AND cells.b =
        |    ${SketchSql.bucket("nodes.k", "fam.a", "fam.b", CmW)}
        |  GROUP BY nodes.k),
        |est AS (SELECT CAST(SUM(est) AS BIGINT) AS cm_range_est FROM pts),
        |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_range
        |  FROM days WHERE k >= $RangeLo AND k < $RangeHi),
        |nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM days)
        |SELECT est.cm_range_est, ex.exact_range,
        |  est.cm_range_est >= ex.exact_range AS never_undercounts,
        |  est.cm_range_est <= ex.exact_range +
        |    ($nNodesLit * 78 * nr.n_rows) // $CmW AS within_bound
        |FROM est CROSS JOIN ex CROSS JOIN nr""".stripMargin,
    "e20_stream_hist_ingest" ->
      """SELECT CAST(round(l_extendedprice * 100) AS BIGINT) // 100000
        |    AS bin,
        |  COUNT(*) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY bin""".stripMargin,
    "e21_stream_dyadic_cms" ->
      s"""WITH $cmFam,
        |days AS (
        |  SELECT CAST(datediff('day', DATE '1970-01-01',
        |    CAST(l_shipdate AS DATE)) AS BIGINT) AS k
        |  FROM lineitem),
        |lvl(l, p) AS (VALUES $lvlRows),
        |comp AS (
        |  SELECT (d.k // lvl.p) * 16 + lvl.l AS k
        |  FROM days d CROSS JOIN lvl)
        |SELECT fam.i,
        |  ${SketchSql.bucket("comp.k", "fam.a", "fam.b", CmW)} AS b,
        |  COUNT(*) AS cnt
        |FROM comp CROSS JOIN fam GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q83_position_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM e
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS c_id, ts AS c_ts FROM e
        |  WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.p_id, c.c_id, c.c_ts
        |  FROM p JOIN c ON c.user_id = p.user_id
        |    AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
        |    AND c.c_ts <= p.p_ts),
        |pos AS (
        |  SELECT p_id, c_id,
        |    ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY c_ts, c_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY p_id) AS n
        |  FROM j),
        |cr AS (
        |  SELECT
        |    CASE WHEN rn = 1 THEN 'first'
        |         WHEN rn = n THEN 'last'
        |         ELSE 'middle' END AS pos,
        |    CASE WHEN n = 1 THEN 10000
        |         WHEN n = 2 THEN 5000
        |         WHEN rn = 1 THEN 4000 + (2000 - (n - 2) * (2000 // (n - 2)))
        |         WHEN rn = n THEN 4000
        |         ELSE 2000 // (n - 2) END AS credit
        |  FROM pos)
        |SELECT pos, CAST(COUNT(*) AS BIGINT) AS n_clicks,
        |  CAST(SUM(credit) AS BIGINT) AS credit_bp
        |FROM cr GROUP BY pos ORDER BY pos""".stripMargin)
}
