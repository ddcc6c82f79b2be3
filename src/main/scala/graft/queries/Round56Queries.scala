package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Hll
import graft.streaming.Drain.drain

/** Fifty-sixth batch — streaming changepoints and sliding sketch serving:
  *
  *  - e28: streaming twin of q103's CUSUM monitor — the stream maintains
  *    the per-(type, day) count rollup as one stateful aggregation
  *    (complete mode, group-sized state); Page's clamped-scan statistic
  *    then runs over the |types|×30 aggregate at read time. That split is
  *    the production monitor shape: state scales with the rollup, never
  *    the event volume, and the twin shares q103's oracle cell for cell.
  *  - a16: sliding 7-day distinct-user curve served from the persisted
  *    per-day HLL registers (the a11 artifact pattern, slid): 24
  *    overlapping windows each merge ≤7 daily register rows by
  *    element-wise MAX — the whole curve costs 24×64 longs from the
  *    artifact, never a second pass over events. The approximate twin of
  *    q100's exact bitmap sliding distinct; the exact per-window anchor
  *    rides along as the oracle gate (and would be dropped at 100 TB —
  *    it is the one column that touches raw events).
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round56Queries extends QueryModule {

  def e28_stream_cusum(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.stream(s, dir, "events")
    val daily = raw
      .select(col("event_type"), to_date(Tables.tsMicros(raw)).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("x"))
    // the memory-sink view is not a MultiInstanceRelation, so the
    // grid-vs-daily self-join inside cusumFromDaily would see conflicting
    // attribute ids; checkpointing the |types|×30 rollup makes it a
    // cloneable leaf (and the scan input is tiny by construction)
    Round52Queries.cusumFromDaily(s,
      drain(daily, "complete").localCheckpoint(true))
  }

  def a16_hll_sliding(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val ev = raw.select(to_date(Tables.tsMicros(raw)).as("day"),
      col("user_id"))
    val artDir = graft.Scratch.dir("a16_daily_hll", dir)
    graft.sinks.ParquetSink.write(
      Hll.registers(ev, Seq("day"), "user_id"), artDir)
    // 24 fully-covered 7-day windows ending Jan 7 .. Jan 30
    val wins = s.range(6, 30).select(
      expr("date_add(DATE '2024-01-01', CAST(id AS INT))").as("win_end"))
    val winRegs = broadcast(wins)
      .join(s.read.parquet(artDir),
        col("day") >= date_sub(col("win_end"), 6) &&
          col("day") <= col("win_end"))
      .groupBy(col("win_end"), col("bkt"))
      .agg(max(col("rmax")).as("rmax"))
    val exact = broadcast(wins)
      .join(ev, col("day") >= date_sub(col("win_end"), 6) &&
        col("day") <= col("win_end"))
      .groupBy(col("win_end"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    Hll.estimate(winRegs, Seq("win_end"))
      .join(exact, "win_end")
      .orderBy(col("win_end"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e28_stream_cusum" -> (e28_stream_cusum _),
    "a16_hll_sliding"  -> (a16_hll_sliding _))

  private val pow2Rows: String =
    (0 until 55).map(e => s"(${1L << e}, ${e + 1})").mkString(", ")

  private val hllNum: String =
    (Hll.AlphaM2x1000 * BigInt(2).pow(56)).toString

  val oracles: Map[String, String] = Map(
    "e28_stream_cusum" -> Round52Queries.oracles("q103_cusum"),
    "a16_hll_sliding" ->
      s"""WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        |wins AS (
        |  SELECT CAST(DATE '2024-01-01' + CAST(r.range AS INT) AS DATE)
        |    AS win_end
        |  FROM range(6, 30) r),
        |wrows AS (
        |  SELECT w.win_end, ev.user_id
        |  FROM wins w JOIN ev
        |    ON ev.day BETWEEN w.win_end - 6 AND w.win_end),
        |hv AS (
        |  SELECT win_end,
        |    ${SketchSql.mix("user_id", "1299709", "104729")} AS h
        |  FROM wrows),
        |hb AS (SELECT win_end, h % 64 AS bkt, h // 64 AS v FROM hv),
        |p2(p, r) AS (VALUES $pow2Rows),
        |regs AS (
        |  SELECT win_end, bkt, MAX(COALESCE(p2.r, 56)) AS rmax
        |  FROM hb LEFT JOIN p2 ON (hb.v & (-hb.v)) = p2.p
        |  GROUP BY 1, 2),
        |agg AS (
        |  SELECT win_end,
        |    CAST(SUM(1::BIGINT << (56 - rmax)) AS BIGINT) AS tp,
        |    COUNT(*) AS nb
        |  FROM regs GROUP BY 1),
        |sel AS (
        |  SELECT win_end,
        |    CAST(tp + (64 - nb) * (1::BIGINT << 56) AS BIGINT) AS t56,
        |    CAST(64 - nb AS BIGINT) AS zero_registers
        |  FROM agg),
        |ex AS (
        |  SELECT win_end, CAST(COUNT(DISTINCT user_id) AS BIGINT)
        |    AS exact_distinct
        |  FROM wrows GROUP BY 1)
        |SELECT sel.win_end,
        |  CAST($hllNum::HUGEINT // (1000::HUGEINT * sel.t56) AS BIGINT)
        |    AS hll_est,
        |  sel.t56, sel.zero_registers, ex.exact_distinct
        |FROM sel JOIN ex USING (win_end)
        |ORDER BY sel.win_end""".stripMargin)
}
