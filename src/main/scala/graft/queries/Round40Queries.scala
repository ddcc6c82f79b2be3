package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Fortieth batch — the optimizer-rule leg of the custom top-k operator:
  *
  *  - q93: the PLAIN window-top-k idiom (`row_number() OVER (PARTITION BY
  *    supplier ORDER BY qty DESC, uid) <= 2`, rank dropped) executed
  *    under [[graft.plans.WindowTopKRewrite]] — the Catalyst rule that
  *    recognizes the idiom and replans it as the partial+final
  *    bounded-heap [[graft.plans.TopKPerKeyPlan]], Window node gone.
  *    The query text is what any SQL user writes; the operator is what
  *    runs. Hash-gated against the window semantics (the rewrite must
  *    be invisible in the results), plan shape pinned by
  *    TopKRewriteSpec.
  *
  * Reference scope: extension beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round40Queries extends QueryModule {

  // ── q93: top-2 lineitems per supplier by quantity. The coalesce()s
  //        are load-bearing: they make the sort keys provably
  //        non-nullable, which is the rewrite rule's soundness gate
  //        (the heap operator drops null-ordered rows; a window ranks
  //        them). uid = orderkey·8 + linenumber is the unique tiebreak
  //        (linenumber ≤ 7). Final aggregate keeps the gated output
  //        small; the rewrite applies to the inner idiom. ───────────────
  def q93_window_topk_rewrite(s: SparkSession, dir: String): DataFrame = {
    // Install for THIS query and restore after planning: in production
    // the rule rides the session permanently (GraftExtensions injects
    // it), but inside the graded suite a persistent install would make
    // every later window query's plan depend on whether q93 ran first —
    // the suite-order dependence r7's bench audit taught us to avoid.
    val prevOpt = s.experimental.extraOptimizations
    val prevStrat = s.experimental.extraStrategies
    graft.operators.TopK.installRewrite(s)
    try {
      val df = q93Body(s, dir)
      // self-audit: the gated result must really have come from the
      // rewritten operator (a silently-unapplied rule would still pass
      // the hash — the whole point is the PLAN)
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("GraftTopKPerKeyFinal") &&
        !plan.contains("Window"),
        s"WindowTopKRewrite did not fire:\n$plan")
      // execute under the rule and hand back the materialized single
      // aggregate row: downstream consumers (Verify wraps the result in
      // its own write) would otherwise REPLAN outside this scope
      val rows = df.collect().toSeq
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1), df.schema)
    } finally {
      s.experimental.extraOptimizations = prevOpt
      s.experimental.extraStrategies = prevStrat
    }
  }

  private def q93Body(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "lineitem").select(
      col("l_suppkey").as("sk"),
      coalesce(col("l_quantity").cast(LongType), lit(0L)).as("q"),
      (coalesce(col("l_orderkey"), lit(0L)) * 8L +
        coalesce(col("l_linenumber").cast(LongType), lit(0L))).as("uid"))
    val top = base
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("sk")).orderBy(col("q").desc, col("uid"))))
      .filter(col("rk") <= 2)
      .select(col("sk"), col("q"), col("uid"))
    top.agg(count(lit(1)).as("n_rows"),
      sum(col("q")).as("sum_q"),
      sum(col("uid")).as("sum_uid"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q93_window_topk_rewrite" -> (q93_window_topk_rewrite _))

  val oracles: Map[String, String] = Map(
    "q93_window_topk_rewrite" ->
      """WITH base AS (
        |  SELECT l_suppkey AS sk,
        |    CAST(COALESCE(l_quantity, 0) AS BIGINT) AS q,
        |    COALESCE(l_orderkey, 0) * 8 +
        |      CAST(COALESCE(l_linenumber, 0) AS BIGINT) AS uid
        |  FROM lineitem),
        |rk AS (
        |  SELECT sk, q, uid,
        |    ROW_NUMBER() OVER (PARTITION BY sk ORDER BY q DESC, uid) AS rk
        |  FROM base)
        |SELECT COUNT(*) AS n_rows, CAST(SUM(q) AS BIGINT) AS sum_q,
        |  CAST(SUM(uid) AS BIGINT) AS sum_uid
        |FROM rk WHERE rk <= 2""".stripMargin)
}
