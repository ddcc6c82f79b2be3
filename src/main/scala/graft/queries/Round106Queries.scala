package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.Tables
import graft.operators.DriverPath

/** Hundred-sixth batch — physical-design advisors and schema/graph
  * profiling:
  *
  *  - q147: V-optimal histogram error curve — for each order
  *    priority's day-of-year decade frequency series, the minimum
  *    within-bucket SSE achievable with b = 1..6 contiguous buckets
  *    (Jagadish et al. 1998), the elbow curve a histogram-budget
  *    advisor reads. The O(n²·B) interval DP runs inside one
  *    codegen'd expression per key (VOptCurveExpr, the WisDp shape);
  *    the oracle replays it as a recursive CTE iterating b with the
  *    DP row carried as a LIST. The optimum per budget is unique, so
  *    the curve is tie-safe even though optimal boundaries are not.
  *  - q148: weighted Weisfeiler-Lehman color refinement on the
  *    nation trade graph (cust-nation → supp-nation, weights =
  *    transaction counts binned to relative thirds) — the 1-WL graph
  *    signature used for graph dedup/isomorphism screening. Three
  *    refinement rounds, each: signature = own color + sorted
  *    multiset of (weight-bin : neighbor color) over out- AND
  *    in-edges, then dense-rank canonicalization. Colors per round
  *    are gated, so every round must refine identically.
  *  - q149: unary inclusion-dependency discovery over a 10-column
  *    registry — the FK-discovery primitive (does values(A) ⊆
  *    values(B)?) run as ONE value-keyed self-join over the distinct
  *    (column, value) table, not N² scans; coverage fraction and the
  *    inclusion flag per ordered column pair.
  *
  * Scale: q147 groups to bounded per-key arrays (37 decades) then
  * pure codegen; q148's per-round cost is two joins keyed by the
  * 25-node color table (the canonicalization window is over ≤25
  * signature rows); q149 is distinct-per-column partial aggregation
  * plus one shuffle keyed by value — at 100 TB the distinct sets
  * become KMV/Bloom sketches with the same pair-census shape.
  *
  * Reference scope: extension beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round106Queries extends QueryModule {

  // ── q147: V-optimal histogram error curve per order priority ──────────

  def q147_voptimal_curve(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VOptCurveExpr
    val series = Tables.load(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("pri"),
        expr("(dayofyear(o_orderdate) - 1) div 10").cast("long").as("bk"))
      .agg(count(lit(1)).as("y"))
    series.groupBy(col("pri"))
      .agg(array_sort(collect_list(struct(col("bk"), col("y"))))
        .as("arr"))
      .select(col("pri"),
        posexplode(VOptCurveExpr.voptCurve(
          expr("transform(arr, p -> p.y)"), maxB = 6)))
      .select(col("pri"), (col("pos") + 1).cast("long").as("n_buckets"),
        round(col("col"), 6).as("sse"))
      .orderBy(col("pri"), col("n_buckets"))
  }

  // ── q148: weighted WL color refinement on the nation trade graph ──────

  def q148_wl_refinement(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "lineitem")
      .join(Tables.load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(Tables.load(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("a"), col("s_nationkey").as("b"))
      .agg(count(lit(1)).as("w"))
    val maxw = raw.agg(max(col("w")).as("maxw"))
    val e = raw.crossJoin(broadcast(maxw))
      .select(col("a"), col("b"), expr("(3 * w) div (maxw + 1)").as("wbin"))
      .localCheckpoint(true) // tiny (≤625 rows); reused 6× across rounds
    wlColors(s, e)
      .join(Tables.load(s, dir, "nation").select(col("n_nationkey").as("nk"),
        col("n_name")), "nk")
      .select(col("n_name"), col("color1"), col("color2"), col("color3"))
      .orderBy(col("n_name"))
  }

  /** Three WL refinement rounds over weight-binned directed edges
    * (a, b, wbin) → (nk, color1, color2, color3), size-switched on
    * [[DriverPath]]. The nation graph has ≤625 edges, so the refinement
    * runs in one driver loop (one collect of the weight-binned edges;
    * identical string signatures, ASCII-only so JVM and UTF8 binary
    * orders agree), collapsing 3 × (2 joins + 2 aggs + window +
    * checkpoint) of scheduling into zero jobs. Above the cap
    * [[wlRounds]] runs. */
  private[queries] def wlColors(s: SparkSession, e: DataFrame): DataFrame = {
    import s.implicits._
    DriverPath.rows(e.select(col("a").cast("long"), col("b").cast("long"),
        col("wbin").cast("long")).as[(Long, Long, Long)]) match {
      case None => wlRounds(e)
      case Some(es) =>
        val ns = (es.map(_._1) ++ es.map(_._2)).distinct
        def refineD(colors: Map[Long, Long]): Map[Long, Long] = {
          val osig = es.groupBy(_._1).map { case (a, rows) =>
            a -> rows.map(r => s"${r._3}:${colors(r._2)}").sorted
              .mkString(",")
          }
          val isig = es.groupBy(_._2).map { case (b, rows) =>
            b -> rows.map(r => s"${r._3}:${colors(r._1)}").sorted
              .mkString(",")
          }
          val sig = ns.map(n => n -> (colors(n).toString + "|o" +
            osig.getOrElse(n, "") + "|i" + isig.getOrElse(n, ""))).toMap
          val rank = sig.values.toSeq.distinct.sorted.zipWithIndex
            .map { case (v, i) => v -> (i + 1).toLong }.toMap
          ns.map(n => n -> rank(sig(n))).toMap
        }
        val d1 = refineD(ns.map(_ -> 1L).toMap)
        val d2 = refineD(d1)
        val d3 = refineD(d2)
        ns.toSeq.map(n => (n, d1(n), d2(n), d3(n)))
          .toDF("nk", "color1", "color2", "color3")
    }
  }

  /** [[wlColors]]' distributed refinement rounds. */
  private[queries] def wlRounds(e: DataFrame): DataFrame = {
    val nodes = e.select(col("a").as("nk"))
      .unionByName(e.select(col("b").as("nk"))).distinct()
    def refine(colors: DataFrame): DataFrame = {
      val osig = e.join(colors.select(col("nk").as("bn"), col("c").as("cb")),
          col("b") === col("bn"))
        .groupBy(col("a").as("nk"))
        .agg(array_join(array_sort(collect_list(concat(
          col("wbin").cast("string"), lit(":"), col("cb").cast("string")))),
          ",").as("osig"))
      val isig = e.join(colors.select(col("nk").as("an"), col("c").as("ca")),
          col("a") === col("an"))
        .groupBy(col("b").as("nk"))
        .agg(array_join(array_sort(collect_list(concat(
          col("wbin").cast("string"), lit(":"), col("ca").cast("string")))),
          ",").as("isig"))
      colors.join(osig, Seq("nk"), "left").join(isig, Seq("nk"), "left")
        .select(col("nk"), concat(col("c").cast("string"), lit("|o"),
          coalesce(col("osig"), lit("")), lit("|i"),
          coalesce(col("isig"), lit(""))).as("sig"))
        // canonicalization window: ≤25 signature rows, bounded by the
        // nation count — single-partition by design
        .select(col("nk"),
          dense_rank().over(Window.orderBy(col("sig"))).cast("long").as("c"))
        .localCheckpoint(true)
    }

    val c0 = nodes.withColumn("c", lit(1L))
    val c1 = refine(c0)
    val c2 = refine(c1)
    val c3 = refine(c2)
    c1.select(col("nk"), col("c").as("color1"))
      .join(c2.select(col("nk"), col("c").as("color2")), "nk")
      .join(c3.select(col("nk"), col("c").as("color3")), "nk")
  }

  // ── q149: inclusion-dependency discovery over a column registry ───────

  private val Registry = Seq(
    ("customer.c_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey", "customer", "c_nationkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
    ("orders.o_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("part.p_partkey", "part", "p_partkey"),
    ("supplier.s_suppkey", "supplier", "s_suppkey"),
    ("nation.n_nationkey", "nation", "n_nationkey"))

  def q149_inclusion_deps(s: SparkSession, dir: String): DataFrame = {
    val d = Registry.map { case (cid, tbl, c) =>
      Tables.load(s, dir, tbl).select(lit(cid).as("cid"),
        col(c).cast("long").as("v")).distinct()
    }.reduce(_ unionByName _)
    val sizes = d.groupBy(col("cid")).agg(count(lit(1)).as("n_a"))
    val shared = d.as("x").join(d.as("y"),
        col("x.v") === col("y.v") && col("x.cid") =!= col("y.cid"))
      .groupBy(col("x.cid").as("col_a"), col("y.cid").as("col_b"))
      .agg(count(lit(1)).as("n_shared"))
    val pairs = sizes.select(col("cid").as("col_a"), col("n_a"))
      .crossJoin(broadcast(sizes.select(col("cid").as("col_b"))))
      .filter(col("col_a") =!= col("col_b"))
    pairs.join(shared, Seq("col_a", "col_b"), "left")
      .select(col("col_a"), col("col_b"), col("n_a"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .select(col("col_a"), col("col_b"), col("n_a"), col("n_shared"),
        round(col("n_shared").cast(DoubleType) /
          col("n_a").cast(DoubleType), 6).as("coverage"),
        (col("n_shared") === col("n_a")).cast("long").as("included"))
      .orderBy(col("col_a"), col("col_b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q147_voptimal_curve" -> (q147_voptimal_curve _),
    "q148_wl_refinement"  -> (q148_wl_refinement _),
    "q149_inclusion_deps" -> (q149_inclusion_deps _))

  // NB: interpolated into an outer .stripMargin template, so no line here
  // may begin with whitespace + '|' (it would be stripped a second time).
  private def wlSig(k: Int): String =
    s"""sig$k AS (
      |  SELECT n.nk,
      |    CAST(n.c AS VARCHAR) || '|o' ||
      |      coalesce((SELECT array_to_string(list_sort(list(
      |        CAST(e.wbin AS VARCHAR) || ':' || CAST(cb.c AS VARCHAR))), ',')
      |        FROM e JOIN c${k - 1} cb ON cb.nk = e.b WHERE e.a = n.nk), '') ||
      |    '|i' ||
      |      coalesce((SELECT array_to_string(list_sort(list(
      |        CAST(e.wbin AS VARCHAR) || ':' || CAST(ca.c AS VARCHAR))), ',')
      |        FROM e JOIN c${k - 1} ca ON ca.nk = e.a WHERE e.b = n.nk), '')
      |    AS sig
      |  FROM c${k - 1} n),
      |c$k AS (SELECT nk, DENSE_RANK() OVER (ORDER BY sig) AS c FROM sig$k)"""
      .stripMargin

  private val InclusionCols = Registry.map { case (cid, tbl, c) =>
    s"SELECT DISTINCT '$cid' AS cid, CAST($c AS BIGINT) AS v FROM $tbl"
  }.mkString("\n  UNION ALL ")

  val oracles: Map[String, String] = Map(
    "q147_voptimal_curve" ->
      """WITH RECURSIVE b AS (
        |  SELECT o_orderpriority AS pri,
        |    (dayofyear(o_orderdate) - 1) // 10 AS bk,
        |    CAST(COUNT(*) AS BIGINT) AS y
        |  FROM orders GROUP BY 1, 2),
        |arr AS (
        |  SELECT pri, list(y ORDER BY bk) AS ys,
        |    len(list(y ORDER BY bk)) AS n
        |  FROM b GROUP BY pri),
        |pre AS (
        |  SELECT pri, n,
        |    list_prepend(CAST(0 AS BIGINT), list_transform(range(1, n + 1),
        |      j -> list_sum(ys[1:j]))) AS s,
        |    list_prepend(CAST(0 AS BIGINT), list_transform(range(1, n + 1),
        |      j -> list_sum(list_transform(ys[1:j], v -> v * v)))) AS sq
        |  FROM arr),
        |dp AS (
        |  SELECT pri, n, s, sq, 1 AS bnum,
        |    list_transform(range(1, n + 1), j ->
        |      CAST(sq[j + 1] - sq[1] AS DOUBLE) -
        |        CAST(s[j + 1] - s[1] AS DOUBLE) *
        |        CAST(s[j + 1] - s[1] AS DOUBLE) / CAST(j AS DOUBLE)) AS row
        |  FROM pre
        |  UNION ALL
        |  SELECT pri, n, s, sq, bnum + 1,
        |    list_transform(range(1, n + 1), j ->
        |      CASE WHEN j < bnum + 1 THEN CAST(1e18 AS DOUBLE) ELSE
        |        list_min(list_transform(range(bnum + 1, j + 1), i ->
        |          row[i - 1] +
        |          (CAST(sq[j + 1] - sq[i] AS DOUBLE) -
        |           CAST(s[j + 1] - s[i] AS DOUBLE) *
        |           CAST(s[j + 1] - s[i] AS DOUBLE) /
        |           CAST(j - i + 1 AS DOUBLE))))
        |      END) AS row
        |  FROM dp WHERE bnum < 6)
        |SELECT pri, CAST(bnum AS BIGINT) AS n_buckets,
        |  ROUND(row[n], 6) AS sse
        |FROM dp WHERE bnum <= n
        |ORDER BY pri, n_buckets""".stripMargin,
    "q148_wl_refinement" ->
      s"""WITH raw AS (
        |  SELECT c.c_nationkey AS a, s.s_nationkey AS b,
        |    CAST(COUNT(*) AS BIGINT) AS w
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2),
        |e AS (
        |  SELECT a, b, (3 * w) // ((SELECT MAX(w) FROM raw) + 1) AS wbin
        |  FROM raw),
        |nodes AS (SELECT a AS nk FROM e UNION SELECT b FROM e),
        |c0 AS (SELECT nk, CAST(1 AS BIGINT) AS c FROM nodes),
        |${wlSig(1)},
        |${wlSig(2)},
        |${wlSig(3)}
        |SELECT nat.n_name, c1.c AS color1, c2.c AS color2, c3.c AS color3
        |FROM c1 JOIN c2 USING (nk) JOIN c3 USING (nk)
        |JOIN nation nat ON nat.n_nationkey = c1.nk
        |ORDER BY nat.n_name""".stripMargin,
    "q149_inclusion_deps" ->
      s"""WITH cols AS (
        |  $InclusionCols),
        |sizes AS (
        |  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_a FROM cols GROUP BY 1),
        |shared AS (
        |  SELECT a.cid AS col_a, b.cid AS col_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM cols a JOIN cols b ON a.v = b.v AND a.cid <> b.cid
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.cid AS col_a, a.n_a, b.cid AS col_b
        |  FROM sizes a JOIN sizes b ON a.cid <> b.cid)
        |SELECT p.col_a, p.col_b, p.n_a,
        |  coalesce(s.n_shared, 0) AS n_shared,
        |  ROUND(CAST(coalesce(s.n_shared, 0) AS DOUBLE) /
        |    CAST(p.n_a AS DOUBLE), 6) AS coverage,
        |  CAST(coalesce(s.n_shared, 0) = p.n_a AS BIGINT) AS included
        |FROM pairs p LEFT JOIN shared s
        |  ON s.col_a = p.col_a AND s.col_b = p.col_b
        |ORDER BY p.col_a, p.col_b""".stripMargin)
}
