package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Forty-eighth batch — the temporal-dimension lookup:
  *
  *  - q99: as-of SCD2 revenue attribution — every order joined to the
  *    customer-state version (p7's Type-2 history) VALID AT the order
  *    date, revenue grouped by effective state. The canonical "join the
  *    fact to the dimension as it was then" pattern; the join runs
  *    through the bucketized keyed interval shape (q83's skew guard),
  *    never a bare per-customer interval filter.
  *
  * Reference scope: extension beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round48Queries extends QueryModule {

  // current (open-ended) versions get a cap beyond the data's horizon so
  // the bucket explode stays bounded (~85 30-day buckets over the
  // 1992–1998 span, not 97k to year 9999)
  private val Horizon = java.sql.Date.valueOf("1999-01-01")

  def q99_scd2_asof_revenue(s: SparkSession, dir: String): DataFrame = {
    val hist = Round3Queries.p7_scd2(s, dir)
      .select(col("o_custkey"), col("state"), col("valid_from"),
        coalesce(col("valid_to"), lit(Horizon)).as("valid_to"))
    val pts = Tables.load(s, dir, "orders").select(col("o_custkey"),
      col("o_orderdate").cast(DateType).as("d"),
      round(col("o_totalprice") * 100).cast(LongType).as("cents"))
    graft.operators.RangeJoin.pointInIntervalKeyed(
        pts, hist, Seq("o_custkey"), "d", "valid_from", "valid_to",
        bucketWidthSec = 30L * 86400L)
      .groupBy(col("state"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("revenue_c"))
      .orderBy(col("state"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q99_scd2_asof_revenue" -> (q99_scd2_asof_revenue _))

  val oracles: Map[String, String] = Map(
    // the SCD2 history rebuilt (p7's construction), open versions capped,
    // then the containment join and the state census
    "q99_scd2_asof_revenue" ->
      s"""WITH hist0 AS (
        |  SELECT * FROM (
        |${Round3Queries.oracles("p7_scd2")}
        |  )),
        |hist AS (
        |  SELECT o_custkey, state, valid_from,
        |    COALESCE(valid_to, DATE '1999-01-01') AS valid_to
        |  FROM hist0
        |  WHERE COALESCE(valid_to, DATE '1999-01-01') > valid_from),
        |pts AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT h.state, COUNT(*) AS n_orders,
        |  CAST(SUM(p.cents) AS BIGINT) AS revenue_c
        |FROM pts p JOIN hist h ON h.o_custkey = p.o_custkey
        |  AND p.d >= h.valid_from AND p.d < h.valid_to
        |GROUP BY h.state ORDER BY h.state""".stripMargin)
}
