package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.operators.{Graph, Hll}

/** Thirty-fourth batch — sketch composition and seed-centric graph
  * analytics:
  *
  *  - a13: audience-overlap estimation from HyperLogLog sketches by
  *    inclusion–exclusion — |A∩B| ≈ est(A) + est(B) − est(A∪B), where
  *    est(A∪B) comes from the element-wise-max REGISTER merge, never
  *    from raw data. The production "how many users do both?" question
  *    answered from three 64-long sketches; exact anchors ride along.
  *  - s14: personalized PageRank from the minimum co-purchase node — the
  *    random-walk-with-restart proximity that powers "similar items";
  *    rank stays sparse (3 hops from the seed) and every value is
  *    replayed by a 3-iteration unrolled oracle.
  *  - q91: per-node local clustering coefficient in exact basis points —
  *    the cliquishness feature separating organic neighborhoods from
  *    bot stars.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round34Queries extends QueryModule {

  // ── a13: click-audience vs purchase-audience overlap. Three register
  //        pipelines (A, B, and the union via register merge — NOT a
  //        third pass over A∪B rows; the merge identity is the point),
  //        each one map-side-combined aggregate with 64 longs of state.
  //        est_overlap may legitimately come out negative (two ±13%
  //        estimates subtracted); it is reported raw with the exact
  //        anchors alongside — the honest sketch contract a1/a10 use. ────
  def a13_hll_overlap(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").select(col("event_type"), col("user_id"))
    val a = ev.filter(col("event_type") === "click")
    val b = ev.filter(col("event_type") === "purchase")
    val regsA = Hll.registers(a, Seq.empty, "user_id")
    val regsB = Hll.registers(b, Seq.empty, "user_id")
    val regsU = Hll.merge(regsA, regsB, Seq.empty)
    def est(regs: DataFrame, name: String): DataFrame =
      Hll.estimate(regs, Seq.empty).select(col("hll_est").as(name))
    val exacts = a.agg(countDistinct(col("user_id")).as("exact_a"))
      .crossJoin(b.agg(countDistinct(col("user_id")).as("exact_b")))
      .crossJoin(a.select(col("user_id")).distinct()
        .join(b.select(col("user_id")).distinct(), "user_id")
        .agg(count(lit(1)).as("exact_overlap")))
    est(regsA, "est_a")
      .crossJoin(est(regsB, "est_b"))
      .crossJoin(est(regsU, "est_union"))
      .withColumn("est_overlap",
        col("est_a") + col("est_b") - col("est_union"))
      .crossJoin(exacts)
  }

  // ── s14: PPR from the min co-purchase node, 3 damped iterations. ──────
  def s14_ppr(s: SparkSession, dir: String): DataFrame = {
    val e = Round6Queries.copurchaseEdges(s, dir).localCheckpoint(true)
    val seed = e.agg(min(col("u"))).head().getLong(0)
    Graph.personalizedPageRank(e, "u", "v", seed, iters = 3, damping = 0.85)
      .select(col("node"), round(col("r"), 6).as("ppr"))
      .orderBy(col("node"))
  }

  // ── q91: local clustering coefficient on the co-purchase graph. ───────
  def q91_clustering_coef(s: SparkSession, dir: String): DataFrame =
    Graph.clusteringCoefficient(Round6Queries.copurchaseEdges(s, dir),
        "u", "v")
      .orderBy(col("n"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a13_hll_overlap"     -> (a13_hll_overlap _),
    "s14_ppr"             -> (s14_ppr _),
    "q91_clustering_coef" -> (q91_clustering_coef _))

  private val pow2Rows: String =
    (0 until 55).map(e => s"(${1L << e}, ${e + 1})").mkString(", ")

  private val hllNum: String =
    (BigInt(2904064) * BigInt(2).pow(56)).toString

  /** Register pipeline for source CTE `src` (one user_id column) →
    * `regs_$tag` (bkt, rmax). */
  private def hllRegs(src: String, tag: String): String =
    s"""hv_$tag AS (
       |  SELECT ${SketchSql.mix("user_id", "1299709", "104729")} AS h
       |  FROM $src),
       |hb_$tag AS (SELECT h % 64 AS bkt, h // 64 AS v FROM hv_$tag),
       |regs_$tag AS (
       |  SELECT bkt, MAX(COALESCE(p2.r, 56)) AS rmax
       |  FROM hb_$tag LEFT JOIN p2 ON (hb_$tag.v & (-hb_$tag.v)) = p2.p
       |  GROUP BY bkt)""".stripMargin

  /** Estimate CTE over `regs_$tag` → `est_$tag` (one BIGINT column e). */
  private def hllEst(tag: String): String =
    s"""agg_$tag AS (
       |  SELECT CAST(SUM(1::BIGINT << (56 - rmax)) AS BIGINT) AS tp,
       |    COUNT(*) AS nb
       |  FROM regs_$tag),
       |est_$tag AS (
       |  SELECT CAST($hllNum::HUGEINT //
       |    (1000::HUGEINT * CAST(tp + (64 - nb) * (1::BIGINT << 56)
       |      AS HUGEINT)) AS BIGINT) AS e
       |  FROM agg_$tag)""".stripMargin

  val oracles: Map[String, String] = Map(
    "a13_hll_overlap" ->
      s"""WITH p2(p, r) AS (VALUES $pow2Rows),
        |ua AS (SELECT user_id FROM events WHERE event_type = 'click'),
        |ub AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
        |${hllRegs("ua", "a")},
        |${hllRegs("ub", "b")},
        |regs_u AS (
        |  SELECT bkt, MAX(rmax) AS rmax FROM (
        |    SELECT * FROM regs_a UNION ALL SELECT * FROM regs_b)
        |  GROUP BY bkt),
        |${hllEst("a")},
        |${hllEst("b")},
        |${hllEst("u")},
        |ex AS (
        |  SELECT
        |    (SELECT COUNT(DISTINCT user_id) FROM ua) AS exact_a,
        |    (SELECT COUNT(DISTINCT user_id) FROM ub) AS exact_b,
        |    (SELECT COUNT(*) FROM
        |      (SELECT DISTINCT user_id FROM ua) x
        |      JOIN (SELECT DISTINCT user_id FROM ub) y USING (user_id))
        |      AS exact_overlap)
        |SELECT est_a.e AS est_a, est_b.e AS est_b, est_u.e AS est_union,
        |  est_a.e + est_b.e - est_u.e AS est_overlap,
        |  ex.exact_a, ex.exact_b, ex.exact_overlap
        |FROM est_a CROSS JOIN est_b CROSS JOIN est_u CROSS JOIN ex""".stripMargin,
    "s14_ppr" -> {
      def iter(prev: String, curr: String): String =
        s"""$curr AS (
           |  SELECT node, ROUND(CAST(SUM(c) AS DOUBLE) +
           |    CASE WHEN node = (SELECT sd FROM seed)
           |      THEN CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)
           |      ELSE CAST(0 AS DOUBLE) END, 12) AS r
           |  FROM (
           |    SELECT und.v AS node,
           |      CAST(ROUND($prev.r / deg.deg * CAST(0.85 AS DOUBLE), 12)
           |        AS DECIMAL(28,12)) AS c
           |    FROM und JOIN $prev ON $prev.node = und.u
           |    JOIN deg ON deg.u = und.u
           |    UNION ALL
           |    SELECT (SELECT sd FROM seed), CAST(0 AS DECIMAL(28,12)))
           |  GROUP BY node)""".stripMargin
      s"""WITH ${Round6Queries.edgesSql},
         |und AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
         |deg AS (SELECT u, COUNT(*) AS deg FROM und GROUP BY 1),
         |seed AS (SELECT MIN(u) AS sd FROM und),
         |r0 AS (SELECT (SELECT sd FROM seed) AS node, CAST(1 AS DOUBLE) AS r),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")}
         |SELECT node, ROUND(r, 6) AS ppr FROM r3 ORDER BY node""".stripMargin
    },
    "q91_clustering_coef" ->
      s"""WITH ${Round6Queries.edgesSql},
        |und AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
        |deg AS (SELECT u AS n, COUNT(*) AS deg FROM und GROUP BY 1),
        |wedges AS (
        |  SELECT x.u AS n, x.v AS a, y.v AS b
        |  FROM und x JOIN und y ON x.u = y.u AND x.v < y.v),
        |closed AS (
        |  SELECT w.n, COUNT(*) AS n_closed
        |  FROM wedges w JOIN e ON e.u = w.a AND e.v = w.b
        |  GROUP BY w.n)
        |SELECT d.n, d.deg,
        |  CAST(COALESCE(c.n_closed, 0) AS BIGINT) AS n_closed,
        |  COALESCE(c.n_closed, 0) * 10000 // (d.deg * (d.deg - 1) // 2)
        |    AS cc_bp
        |FROM deg d LEFT JOIN closed c ON c.n = d.n
        |WHERE d.deg >= 2 ORDER BY d.n""".stripMargin)
}
