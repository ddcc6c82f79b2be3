package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.Tables

/** Hundred-tenth batch — exact betweenness centrality and greedy
  * matching on the thresholded nation trade graph:
  *
  *  - q155: Brandes betweenness centrality (Brandes 2001) —
  *    level-synchronous shortest-path counts σ (exact integers)
  *    followed by backward dependency accumulation δ, both unrolled
  *    over BFS levels (diameter-bounded at 6); only the δ ratios are
  *    float, under the round(·,12) → DECIMAL(28,12) sum discipline.
  *    The oracle replays the identical level algebra; the spec
  *    triangulates with a stack-based Brandes replay.
  *  - q156: greedy maximal weight matching
  *    ([[graft.functions.GreedyMatchExpr]]) — the ½-approximation
  *    pair-assignment walk over the descending-weight edge list, run
  *    inside one codegen'd pass over per-graph edge arrays; the
  *    oracle carries the matched-node set through a recursive CTE.
  *
  * Scale: both operate on the bounded nation-level summary graph
  * (≤ 625 edges regardless of fact-table size — the aggregation that
  * builds it is the only corpus-scale pass). Brandes' per-level σ/δ
  * steps are joins keyed by the 25-node table; the matching array is
  * summary-sized by construction.
  *
  * Reference scope: extension beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round110Queries extends QueryModule {

  /** Transaction-count-weighted nation trade edges (u ≠ v). */
  private def tradeWeights(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .join(Tables.load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(Tables.load(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(col("c_nationkey").cast(LongType).as("u"),
        col("s_nationkey").cast(LongType).as("v"))
      .agg(count(lit(1)).as("w"))

  // ── q155: Brandes betweenness, unrolled over BFS levels ───────────────

  private val MaxLevel = 6

  def q155_betweenness(s: SparkSession, dir: String): DataFrame = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val w = tradeWeights(s, dir)
    val maxw = w.agg(max(col("w")).as("maxw"))
    // The only corpus-scale pass is the tradeWeights aggregation. The
    // thresholded graph is nation×nation — ≤25 nodes / ≤625 edges by
    // construction — so BFS + σ + δ run in driver arrays (the q163
    // strategy-switch pattern, Round115Queries). The previous
    // all-DataFrame unrolling priced each of ~18 level steps at several
    // Spark jobs of scale-independent scheduling (~4 s at sf0.1 — the
    // r11 verdict's What's-wrong #2). Float discipline mirrors the
    // oracle exactly: round(·,12) = BigDecimal.setScale(12, HALF_UP) on
    // the double, DECIMAL(28,12) sums = exact BigDecimal accumulation.
    val eArr: Array[(Long, Long)] = w.crossJoin(broadcast(maxw))
      .filter(col("w") * 5 >= col("maxw") * 3)
      .select(col("u"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val und: Array[(Long, Long)] =
      (eArr ++ eArr.map(p => (p._2, p._1))).distinct
    val nodes: Array[Long] = und.map(_._1).distinct.sorted
    import s.implicits._
    if (nodes.isEmpty)
      return Seq.empty[(String, Double)].toDF("n_name", "betweenness")
    val adj: Map[Long, Array[Long]] =
      und.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    def r12(d: Double): Double =
      JBD.valueOf(d).setScale(12, RoundingMode.HALF_UP).doubleValue()
    def dec12(d: Double): JBD =
      JBD.valueOf(d).setScale(12, RoundingMode.HALF_UP)
    def r6(d: Double): Double =
      JBD.valueOf(d).setScale(6, RoundingMode.HALF_UP).doubleValue()
    // betweenness accumulator: exact DECIMAL(28,12) sum of per-source δ
    val bc = scala.collection.mutable.Map[Long, JBD]()
    for (src <- nodes) {
      // BFS levels from src over the undirected adjacency
      val lvl = scala.collection.mutable.Map[Long, Int](src -> 0)
      var frontier: Array[Long] = Array(src)
      var depth = 0
      while (frontier.nonEmpty) {
        depth += 1
        frontier = frontier.flatMap(adj(_)).distinct
          .filterNot(lvl.contains)
        frontier.foreach(n => lvl(n) = depth)
      }
      // σ, level-synchronous to MaxLevel (the oracle's unrolled cap):
      // σ(v at k) = Σ σ(preds at k-1)
      val sig = scala.collection.mutable.Map[Long, Long](src -> 1L)
      for (k <- 1 to MaxLevel; n <- nodes if lvl.get(n).contains(k)) {
        val ssum = adj(n).iterator
          .filter(u => lvl.get(u).contains(k - 1))
          .map(u => sig.getOrElse(u, 0L)).sum
        if (ssum > 0) sig(n) = ssum
      }
      // δ backward: δ(v at k) = Σ_w round(σ_v/σ_w · (1+δ_w), 12) over
      // DAG successors w at k+1, summed as DECIMAL(28,12)
      val delta = scala.collection.mutable.Map[Long, Double]()
      for (k <- MaxLevel - 1 to 1 by -1; n <- nodes
           if lvl.get(n).contains(k)) {
        val succs = adj(n).filter(wn =>
          lvl.get(wn).contains(k + 1) && sig.contains(wn))
        if (succs.nonEmpty) {
          val acc = succs.foldLeft(JBD.ZERO) { (a, wn) =>
            a.add(dec12(r12(sig(n).toDouble / sig(wn) *
              (delta.getOrElse(wn, 0.0) + 1.0))))
          }
          delta(n) = acc.doubleValue()
        }
      }
      // della rows (n at level ≥ 1, so n ≠ src by construction)
      delta.foreach { case (n, dv) =>
        bc(n) = bc.getOrElse(n, JBD.ZERO).add(dec12(dv))
      }
    }
    val scores = nodes.toSeq.map(n =>
      (n, r6(bc.getOrElse(n, JBD.ZERO).doubleValue() / 2)))
      .toDF("nk", "betweenness")
    broadcast(scores)
      .join(Tables.load(s, dir, "nation").select(col("n_nationkey").cast(LongType)
        .as("nk"), col("n_name")), Seq("nk"))
      .select(col("n_name"), col("betweenness"))
      .orderBy(col("n_name"))
  }

  // ── q156: greedy maximal weight matching ──────────────────────────────

  def q156_greedy_matching(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GreedyMatchExpr
    val ranked = tradeWeights(s, dir)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("w").desc, col("u"), col("v"))).cast(LongType))
    // bounded summary: one array per graph (≤ 625 edges by construction)
    val arr = ranked.groupBy()
      .agg(array_sort(collect_list(struct(col("rn"), col("u"), col("v"),
        col("w")))).as("es"))
      .select(expr("transform(es, x -> x.u)").as("us"),
        expr("transform(es, x -> x.v)").as("vs"),
        expr("transform(es, x -> x.w)").as("ws"))
      .select(col("us"), col("vs"), col("ws"),
        GreedyMatchExpr.greedyMatch(col("us"), col("vs")).as("flags"))
    val matched = arr
      .select(posexplode(col("flags")).as(Seq("i", "flag")),
        col("us"), col("vs"), col("ws"))
      .filter(col("flag") === 1L)
      .select(element_at(col("us"), col("i") + 1).as("u"),
        element_at(col("vs"), col("i") + 1).as("v"),
        element_at(col("ws"), col("i") + 1).as("w"),
        col("i"))
      .withColumn("rnk", row_number().over(Window.orderBy(col("i")))
        .cast(LongType))
    matched
      .join(Tables.load(s, dir, "nation").select(col("n_nationkey").as("u"),
        col("n_name").as("name_u")), Seq("u"))
      .join(Tables.load(s, dir, "nation").select(col("n_nationkey").as("v"),
        col("n_name").as("name_v")), Seq("v"))
      .select(col("name_u"), col("name_v"), col("w"), col("rnk"))
      .orderBy(col("rnk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q155_betweenness"     -> (q155_betweenness _),
    "q156_greedy_matching" -> (q156_greedy_matching _))

  private val WBaseSql =
    """SELECT c.c_nationkey AS u, s.s_nationkey AS v,
      |    CAST(COUNT(*) AS BIGINT) AS w
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey
      |  GROUP BY 1, 2""".stripMargin

  // NB: inside WITH RECURSIVE, DuckDB 1.0 can drop UNION's dedup in
  // sibling CTEs — always DISTINCT explicitly (measured: nodes came back
  // 184 rows / 24 distinct and multiplied sigma by the dup factor).
  private def sigSql(k: Int): String =
    s"""sig$k AS (
      |  SELECT sp.src, sp.n, CAST(SUM(s.sig) AS BIGINT) AS sig
      |  FROM sp JOIN und ON und.v = sp.n
      |  JOIN sp spu ON spu.src = sp.src AND spu.n = und.u
      |    AND spu.d = ${k - 1}
      |  JOIN sig${k - 1} s ON s.src = sp.src AND s.n = und.u
      |  WHERE sp.d = $k
      |  GROUP BY 1, 2)""".stripMargin

  private def delSql(k: Int): String = {
    val deeper =
      if (k == MaxLevel - 1) ""
      else s"LEFT JOIN del${k + 1} dw ON dw.src = sa.src AND dw.n = sw.n"
    val dwexpr = if (k == MaxLevel - 1) "0" else "coalesce(dw.delta, 0)"
    s"""del$k AS (
      |  SELECT sa.src, sa.n,
      |    CAST(SUM(CAST(ROUND(CAST(sa.sig AS DOUBLE) / sw.sig *
      |      (1 + $dwexpr), 12) AS DECIMAL(28,12))) AS DOUBLE) AS delta
      |  FROM siga sa
      |  JOIN und ON und.u = sa.n
      |  JOIN siga sw ON sw.src = sa.src AND sw.n = und.v
      |    AND sw.d = ${k + 1}
      |  $deeper
      |  WHERE sa.d = $k
      |  GROUP BY 1, 2)""".stripMargin

  }

  val oracles: Map[String, String] = Map(
    "q155_betweenness" -> {
      val sigs = (1 to MaxLevel).map(sigSql).mkString(",\n")
      val siga = (0 to MaxLevel)
        .map(k => s"SELECT src, n, $k AS d, sig FROM sig$k")
        .mkString(" UNION ALL ")
      val dels = (MaxLevel - 1 to 1 by -1).map(delSql).mkString(",\n")
      val della = (1 until MaxLevel)
        .map(k => s"SELECT src, n, delta FROM del$k")
        .mkString(" UNION ALL ")
      s"""WITH RECURSIVE wb AS ($WBaseSql),
        |e AS (SELECT u, v FROM wb WHERE w * 5 >= (SELECT MAX(w) FROM wb) * 3),
        |und AS MATERIALIZED (
        |  SELECT DISTINCT * FROM (SELECT u, v FROM e
        |                          UNION ALL SELECT v, u FROM e)),
        |nodes AS MATERIALIZED (SELECT DISTINCT u AS nk FROM und),
        |r(src, n, d) AS (
        |  SELECT nk, nk, 0 FROM nodes
        |  UNION
        |  SELECT r.src, und.v, r.d + 1 FROM r JOIN und ON und.u = r.n
        |  WHERE r.d < 25),
        |sp AS MATERIALIZED (SELECT src, n, MIN(d) AS d FROM r GROUP BY 1, 2),
        |sig0 AS (SELECT nk AS src, nk AS n, CAST(1 AS BIGINT) AS sig
        |         FROM nodes),
        |$sigs,
        |siga AS MATERIALIZED ($siga),
        |$dels,
        |della AS ($della)
        |SELECT nat.n_name,
        |  ROUND(CAST(coalesce(SUM(CAST(ROUND(d.delta, 12)
        |    AS DECIMAL(28,12))), 0) AS DOUBLE) / 2, 6) AS betweenness
        |FROM nodes nd
        |LEFT JOIN della d ON d.n = nd.nk AND d.src <> nd.nk
        |JOIN nation nat ON nat.n_nationkey = nd.nk
        |GROUP BY 1
        |ORDER BY 1""".stripMargin
    },
    "q156_greedy_matching" ->
      s"""WITH RECURSIVE wb AS ($WBaseSql),
        |ranked AS (
        |  SELECT u, v, w, ROW_NUMBER() OVER (ORDER BY w DESC, u, v) AS rn,
        |    COUNT(*) OVER () AS ne
        |  FROM wb),
        |arr AS (
        |  SELECT list(u ORDER BY rn) AS us, list(v ORDER BY rn) AS vs,
        |    list(w ORDER BY rn) AS ws, MAX(ne) AS ne
        |  FROM ranked),
        |g AS (
        |  SELECT 0 AS i, CAST([] AS BIGINT[]) AS matched,
        |    CAST([] AS BIGINT[]) AS flags, us, vs, ws, ne
        |  FROM arr
        |  UNION ALL
        |  SELECT i + 1,
        |    CASE WHEN list_contains(matched, us[i + 1])
        |           OR list_contains(matched, vs[i + 1])
        |      THEN matched
        |      ELSE list_append(list_append(matched, us[i + 1]), vs[i + 1])
        |    END,
        |    list_append(flags, CASE WHEN list_contains(matched, us[i + 1])
        |           OR list_contains(matched, vs[i + 1]) THEN 0 ELSE 1 END),
        |    us, vs, ws, ne
        |  FROM g WHERE i < ne),
        |fin AS (SELECT * FROM g WHERE i = ne),
        |m AS (
        |  SELECT us[j] AS u, vs[j] AS v, ws[j] AS w,
        |    ROW_NUMBER() OVER (ORDER BY j) AS rnk
        |  FROM fin, unnest(range(1, ne + 1)) AS tt(j)
        |  WHERE flags[j] = 1)
        |SELECT nu.n_name AS name_u, nv.n_name AS name_v, m.w,
        |  CAST(m.rnk AS BIGINT) AS rnk
        |FROM m JOIN nation nu ON nu.n_nationkey = m.u
        |JOIN nation nv ON nv.n_nationkey = m.v
        |ORDER BY m.rnk""".stripMargin)
}
