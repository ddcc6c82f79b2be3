package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Hll

/** Twenty-fourth batch — the pre-aggregated sketch serving pattern:
  *
  *  - a11: persisted per-day HLL registers answering "distinct users
  *    over any date range" by element-wise-max merge of the daily
  *    sketches — the canonical production HLL deployment (daily rollup
  *    job lands 64 longs per day; dashboards merge arbitrary ranges
  *    without touching events). The Spark side genuinely routes through
  *    the parquet artifact; the oracle recomputes registers over the
  *    filtered range directly — their hash equality *is* the merge
  *    identity max(daily maxima) = max(range rows), plus proof the
  *    artifact round-trips.
  *
  * Reference scope: extension beyond the reference surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round24Queries extends QueryModule {

  private val RangeLo = "2024-01-08"
  private val RangeHi = "2024-01-14" // inclusive 7-day window

  def a11_hll_daily_union(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val ev = raw.select(to_date(Tables.tsMicros(raw)).as("day"),
      col("user_id"))
    val artDir = graft.Scratch.dir("a11_daily_hll", dir)
    graft.sinks.ParquetSink.write(
      Hll.registers(ev, Seq("day"), "user_id"), artDir)
    val lo = to_date(lit(RangeLo))
    val hi = to_date(lit(RangeHi))
    val merged = s.read.parquet(artDir)
      .filter(col("day") >= lo && col("day") <= hi)
      .groupBy(col("bkt")).agg(max(col("rmax")).as("rmax"))
    val exact = ev.filter(col("day") >= lo && col("day") <= hi)
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    Hll.estimate(merged, Seq.empty).crossJoin(exact)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a11_hll_daily_union" -> (a11_hll_daily_union _))

  private val pow2Rows: String =
    (0 until 55).map(e => s"(${1L << e}, ${e + 1})").mkString(", ")

  private val hllNum: String =
    (BigInt(2904064) * BigInt(2).pow(56)).toString

  val oracles: Map[String, String] = Map(
    "a11_hll_daily_union" ->
      s"""WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        |rng AS (
        |  SELECT user_id FROM ev
        |  WHERE day BETWEEN DATE '$RangeLo' AND DATE '$RangeHi'),
        |hv AS (
        |  SELECT ${SketchSql.mix("user_id", "1299709", "104729")} AS h
        |  FROM rng),
        |hb AS (SELECT h % 64 AS bkt, h // 64 AS v FROM hv),
        |p2(p, r) AS (VALUES $pow2Rows),
        |regs AS (
        |  SELECT bkt, MAX(COALESCE(p2.r, 56)) AS rmax
        |  FROM hb LEFT JOIN p2 ON (hb.v & (-hb.v)) = p2.p
        |  GROUP BY bkt),
        |agg AS (
        |  SELECT CAST(SUM(1::BIGINT << (56 - rmax)) AS BIGINT) AS tp,
        |    COUNT(*) AS nb
        |  FROM regs),
        |sel AS (
        |  SELECT CAST(tp + (64 - nb) * (1::BIGINT << 56) AS BIGINT) AS t56,
        |    CAST(64 - nb AS BIGINT) AS zero_registers
        |  FROM agg),
        |ex AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
        |         AS exact_distinct FROM rng)
        |SELECT
        |  CAST($hllNum::HUGEINT // (1000::HUGEINT * sel.t56) AS BIGINT)
        |    AS hll_est,
        |  sel.t56, sel.zero_registers, ex.exact_distinct
        |FROM sel CROSS JOIN ex""".stripMargin)
}
