package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.Tables

/** Hundred-fifteenth batch — spectral graph partitioning and a
  * linear-time novelty probe:
  *
  *  - q163: spectral bisection (Fiedler 1973; Shi & Malik 2000
  *    normalized form) of the thresholded nation trade graph — 30
  *    deflated power iterations on M = ½I + ½·D^-½AD^-½ (whose
  *    second eigenvector is the normalized-cut direction), every
  *    float step under the round(·,12) → DECIMAL(28,12) discipline
  *    so the oracle's 30 unrolled iteration CTEs land bit-identical
  *    scores; sign flipped so the minimum node is non-negative, and
  *    the resulting cut size gated alongside the per-node scores.
  *  - t64: distinct-substring count
  *    ([[graft.functions.DistinctSubstringsExpr]]) via a suffix
  *    automaton — the linear-time repetition/novelty measure; the
  *    oracle counts the same quantity quadratically
  *    (`list_distinct` over all O(n²) substrings of the bounded
  *    prefix), a completely different computation on the same hash.
  *
  * Scale: q163's only corpus-scale pass is the edge aggregation; the
  * iterations run on the collected ≤25-node adjacency in driver arrays
  * (same strategy switch as Graph.connectedComponents — a distributed
  * loop here would pay per-Spark-job overhead 180× for 25-row frames);
  * t64 is per-row bounded work.
  *
  * Reference scope: extension beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round115Queries extends QueryModule {

  // ── q163: spectral bisection by deflated power iteration ──────────────

  private val Iters = 30

  def q163_spectral_bisection(s: SparkSession, dir: String): DataFrame = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val w = Tables.load(s, dir, "lineitem")
      .join(Tables.load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(Tables.load(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(col("c_nationkey").cast(LongType).as("u"),
        col("s_nationkey").cast(LongType).as("v"))
      .agg(count(lit(1)).as("w"))
    val maxw = w.agg(max(col("w")).as("maxw"))
    // The only corpus-scale pass is the edge aggregation above. The
    // thresholded graph is nation×nation — ≤25 nodes / ≤600 directed
    // edges by construction — so the 30 deflated power iterations run in
    // driver arrays (the driver-loop strategy of graft.operators.DriverPath,
    // with no distributed branch: the graph is nation-sized at any
    // scale). The previous all-DataFrame formulation
    // priced each iteration at ~6 Spark jobs of scale-independent
    // scheduling overhead (>12 min at sf0.01) — distributed machinery for
    // driver-sized math. Every float step mirrors the engine semantics
    // the oracle sees: round(·,12) = BigDecimal.valueOf(HALF_UP) exactly
    // as Spark's Round codegen emits for DoubleType, and the
    // DECIMAL(28,12)-sum-then-cast-to-double discipline becomes an exact
    // BigDecimal accumulation.
    val eArr: Array[(Long, Long)] = w.crossJoin(broadcast(maxw))
      .filter(col("w") * 5 >= col("maxw") * 3)
      .select(col("u"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val und: Array[(Long, Long)] =
      (eArr ++ eArr.map(p => (p._2, p._1))).distinct
    val nodes: Array[Long] = und.map(_._1).distinct.sorted
    // Degenerate input (no edge clears the threshold — e.g. an empty or
    // single-nation slice): the DataFrame formulation this replaced
    // returned an empty frame; match it instead of NPEing at x(nodes.head).
    if (nodes.isEmpty) {
      import s.implicits._
      return Seq.empty[(String, Double, String, Long)]
        .toDF("n_name", "fiedler_score", "side", "cut_edges")
    }
    val nbrs: Map[Long, Array[Long]] =
      und.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val deg: Map[Long, Long] = nbrs.map { case (k, vs) => k -> vs.length.toLong }
    val m2 = deg.values.sum.toDouble
    def r12(d: Double): Double =
      JBD.valueOf(d).setScale(12, RoundingMode.HALF_UP).doubleValue()
    // round(·,12) then cast DECIMAL(28,12): the cast re-rounds the binary
    // double at scale 12 — same composition as the engine's
    def dec12(d: Double): JBD =
      JBD.valueOf(d).setScale(12, RoundingMode.HALF_UP)
    def sumDec(vs: Iterable[Double]): Double =
      vs.foldLeft(JBD.ZERO)((a, v) => a.add(dec12(v))).doubleValue()
    val v1: Map[Long, Double] =
      deg.map { case (n, d) => n -> math.sqrt(d.toDouble / m2) }
    var x: Map[Long, Double] = nodes.zipWithIndex.map { case (n, i) =>
      n -> (if (i % 2 == 0) 1.0 else -1.0)
    }.toMap
    for (_ <- 1 to Iters) {
      val y: Map[Long, Double] = nodes.map { n =>
        val di = deg(n).toDouble
        val sj = sumDec(nbrs(n).map(j =>
          r12(x(j) / math.sqrt(di * deg(j)))))
        n -> r12(x(n) * 0.5 + sj * 0.5)
      }.toMap
      val c = sumDec(nodes.map(n => r12(v1(n) * y(n))))
      val z: Map[Long, Double] =
        nodes.map(n => n -> r12(y(n) - r12(c * v1(n)))).toMap
      val nrm = math.sqrt(sumDec(nodes.map(n => r12(z(n) * z(n)))))
      x = nodes.map(n => n -> r12(z(n) / nrm)).toMap
    }
    val f = if (x(nodes.head) < 0) -1.0 else 1.0
    val fx: Map[Long, Double] = x.map { case (n, v) => n -> v * f }
    val cut = eArr.count { case (u, v) => fx(u) * fx(v) < 0 }.toLong
    def r6(d: Double): Double =
      JBD.valueOf(d).setScale(6, RoundingMode.HALF_UP).doubleValue()
    import s.implicits._
    val scores = nodes.toSeq.map(n =>
      (n, r6(fx(n)), if (fx(n) >= 0) "P" else "N", cut))
      .toDF("n", "fiedler_score", "side", "cut_edges")
    broadcast(scores)
      .join(Tables.load(s, dir, "nation").select(col("n_nationkey").cast(LongType)
        .as("n"), col("n_name")), Seq("n"))
      .select(col("n_name"), col("fiedler_score"), col("side"),
        col("cut_edges"))
      .orderBy(col("n_name"))
  }

  // ── t64: distinct-substring novelty via suffix automaton ──────────────

  def t64_distinct_substrings(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.DistinctSubstringsExpr
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "[^a-z ]", ""),
          1, 48).as("p"))
      .select(col("doc_id"),
        length(col("p")).cast(LongType).as("n"),
        DistinctSubstringsExpr.distinctSubstrings(col("p"))
          .as("n_distinct"))
      .select(col("doc_id"), col("n"), col("n_distinct"),
        round(col("n_distinct").cast(DoubleType) /
          (col("n") * (col("n") + 1) / 2).cast(DoubleType), 6)
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q163_spectral_bisection" -> (q163_spectral_bisection _),
    "t64_distinct_substrings" -> (t64_distinct_substrings _))

  // Every multiply-referenced iteration CTE is MATERIALIZED: DuckDB 1.0
  // inlines CTEs by default, so an unhinted x_{k-1} (referenced twice by
  // y_k) would expand the 30-step chain into a 2^30-plan — the oracle
  // must stay gate-affordable too.
  private def iterSql(k: Int): String = {
    val prev = s"x${k - 1}"
    s"""y$k AS MATERIALIZED (
      |  SELECT x.n,
      |    ROUND(x.x * 0.5 + CAST(SUM(CAST(ROUND(xj.x /
      |      sqrt(CAST(d.deg * dj.deg AS DOUBLE)), 12) AS DECIMAL(28,12)))
      |      AS DOUBLE) * 0.5, 12) AS y
      |  FROM $prev x
      |  JOIN und ON und.u = x.n
      |  JOIN $prev xj ON xj.n = und.v
      |  JOIN deg d ON d.n = x.n
      |  JOIN deg dj ON dj.n = und.v
      |  GROUP BY x.n, x.x),
      |c$k AS (
      |  SELECT CAST(SUM(CAST(ROUND(v1.v1 * y.y, 12) AS DECIMAL(28,12)))
      |    AS DOUBLE) AS c
      |  FROM y$k y JOIN v1 ON v1.n = y.n),
      |z$k AS MATERIALIZED (
      |  SELECT y.n, ROUND(y.y - ROUND(c.c * v1.v1, 12), 12) AS z
      |  FROM y$k y JOIN v1 ON v1.n = y.n, c$k c),
      |nr$k AS (
      |  SELECT sqrt(CAST(SUM(CAST(ROUND(z.z * z.z, 12) AS DECIMAL(28,12)))
      |    AS DOUBLE)) AS nrm
      |  FROM z$k z),
      |x$k AS MATERIALIZED (
      |  SELECT z.n, ROUND(z.z / nr.nrm, 12) AS x FROM z$k z, nr$k nr)"""
      .stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q163_spectral_bisection" -> {
      val iters = (1 to Iters).map(iterSql).mkString(",\n")
      s"""WITH wb AS (
        |  SELECT CAST(c.c_nationkey AS BIGINT) AS u,
        |    CAST(s.s_nationkey AS BIGINT) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS w
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  WHERE c.c_nationkey <> s.s_nationkey
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT u, v FROM wb WHERE w * 5 >= (SELECT MAX(w) FROM wb) * 3),
        |und AS MATERIALIZED (
        |  SELECT DISTINCT * FROM (SELECT u, v FROM e
        |                          UNION ALL SELECT v, u FROM e)),
        |deg AS MATERIALIZED (
        |  SELECT u AS n, CAST(COUNT(*) AS BIGINT) AS deg
        |  FROM und GROUP BY 1),
        |m2 AS (SELECT SUM(deg) AS m2 FROM deg),
        |v1 AS MATERIALIZED (
        |  SELECT n, sqrt(CAST(deg AS DOUBLE) /
        |    (SELECT CAST(m2 AS DOUBLE) FROM m2)) AS v1
        |  FROM deg),
        |x0 AS MATERIALIZED (
        |  SELECT n, CASE WHEN rn % 2 = 1 THEN CAST(1.0 AS DOUBLE)
        |    ELSE CAST(-1.0 AS DOUBLE) END AS x
        |  FROM (SELECT n, ROW_NUMBER() OVER (ORDER BY n) AS rn FROM deg)),
        |$iters,
        |flip AS (
        |  SELECT CASE WHEN x < 0 THEN CAST(-1.0 AS DOUBLE)
        |    ELSE CAST(1.0 AS DOUBLE) END AS f
        |  FROM x$Iters ORDER BY n LIMIT 1),
        |fx AS MATERIALIZED (
        |  SELECT x.n, x.x * flip.f AS x FROM x$Iters x, flip),
        |cut AS (
        |  SELECT CAST(SUM(CASE WHEN a.x * b.x < 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS cut_edges
        |  FROM e JOIN fx a ON a.n = e.u JOIN fx b ON b.n = e.v)
        |SELECT nat.n_name, ROUND(fx.x, 6) AS fiedler_score,
        |  CASE WHEN fx.x >= 0 THEN 'P' ELSE 'N' END AS side,
        |  cut.cut_edges
        |FROM fx CROSS JOIN cut
        |JOIN nation nat ON nat.n_nationkey = fx.n
        |ORDER BY nat.n_name""".stripMargin
    },
    "t64_distinct_substrings" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    substr(regexp_replace(lower(text), '[^a-z ]', '', 'g'), 1, 48)
        |      AS p
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, CAST(length(p) AS BIGINT) AS n,
        |    CAST(len(list_distinct(flatten(list_transform(
        |      range(1, length(p) + 1),
        |      i -> list_transform(range(CAST(i AS BIGINT), length(p) + 1),
        |        j -> substr(p, CAST(i AS INTEGER),
        |          CAST(j - i + 1 AS INTEGER))))))) AS BIGINT) AS n_distinct
        |  FROM s)
        |SELECT doc_id, n, n_distinct,
        |  ROUND(CAST(n_distinct AS DOUBLE) / (n * (n + 1) / 2), 6)
        |    AS novelty
        |FROM d ORDER BY doc_id""".stripMargin)
}
