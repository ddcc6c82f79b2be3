package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.Tables

/** Hundred-eleventh batch — compression probing, spanning backbones,
  * and running-extremum analytics:
  *
  *  - t62: Burrows–Wheeler compressibility probe
  *    ([[graft.functions.BwtExpr]]) — the BWT of each document's
  *    sanitized 48-char prefix (plus a '|' sentinel), with the RLE
  *    run counts of the raw prefix vs its transform: the clustering
  *    gain a context-sorting compressor would see. ASCII by
  *    construction so Java ordering == DuckDB binary collation and
  *    the oracle replays the rotation sort with `list_sort`.
  *  - q157: maximum spanning backbone of the nation trade graph —
  *    Kruskal over the descending-weight edge list
  *    ([[graft.functions.KruskalFlagsExpr]], union-find with path
  *    halving in one codegen'd pass over the bounded summary
  *    arrays); the oracle relabels a component list per accepted
  *    edge in a recursive CTE. The backbone is the max-weight
  *    skeleton a routing/consolidation planner keeps.
  *  - q158: maximum rally and maximum drawdown of each priority's
  *    cumulative daily revenue — the running-extremum identity
  *    (max drawdown = max over days of running-max − today) in
  *    exact integer cents, pure window functions on both engines.
  *
  * Scale: t62 is per-row bounded work (49-char rotation sort);
  * q157 is the bounded-summary pattern (arrays ≤ |nations|²); q158
  * is one partitioned ordered scan per key.
  *
  * Reference scope: extension beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round111Queries extends QueryModule {

  // ── t62: BWT compressibility probe ────────────────────────────────────

  def t62_bwt_probe(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.BwtExpr
    val p = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        concat(substring(regexp_replace(lower(col("text")), "[^a-z ]", ""),
          1, 48), lit("|")).as("p"))
    def runs(name: String) =
      expr(s"""1 + aggregate(transform(sequence(2, length($name)),
        i -> IF(substring($name, i, 1) =
                substring($name, i - 1, 1), 0L, 1L)),
        0L, (a, b) -> a + b)""")
    p.select(col("doc_id"), col("p"), BwtExpr.bwt(col("p")).as("bwt"))
      .select(col("doc_id"), col("bwt"),
        runs("bwt").as("bwt_runs"),
        runs("p").as("raw_runs"))
      .select(col("doc_id"), col("bwt"), col("bwt_runs"), col("raw_runs"),
        round(col("bwt_runs").cast(DoubleType) /
          col("raw_runs").cast(DoubleType), 6).as("clustering_gain"))
      .orderBy(col("doc_id"))
  }

  // ── q157: maximum spanning backbone (Kruskal) ─────────────────────────

  private def tradeWeights(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .join(Tables.load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(Tables.load(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(col("c_nationkey").cast(LongType).as("u"),
        col("s_nationkey").cast(LongType).as("v"))
      .agg(count(lit(1)).as("w"))

  def q157_max_spanning_backbone(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KruskalFlagsExpr
    val ranked = tradeWeights(s, dir)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("w").desc, col("u"), col("v"))).cast(LongType))
    val arr = ranked.groupBy()
      .agg(array_sort(collect_list(struct(col("rn"), col("u"), col("v"),
        col("w")))).as("es"))
      .select(expr("transform(es, x -> x.u)").as("us"),
        expr("transform(es, x -> x.v)").as("vs"),
        expr("transform(es, x -> x.w)").as("ws"))
      .select(col("us"), col("vs"), col("ws"),
        KruskalFlagsExpr.kruskalFlags(col("us"), col("vs")).as("flags"))
    arr.select(posexplode(col("flags")).as(Seq("i", "flag")),
        col("us"), col("vs"), col("ws"))
      .filter(col("flag") === 1L)
      .select(element_at(col("us"), col("i") + 1).as("u"),
        element_at(col("vs"), col("i") + 1).as("v"),
        element_at(col("ws"), col("i") + 1).as("w"),
        col("i"))
      .withColumn("rnk", row_number().over(Window.orderBy(col("i")))
        .cast(LongType))
      .join(Tables.load(s, dir, "nation").select(col("n_nationkey").cast(LongType)
        .as("u"), col("n_name").as("name_u")), Seq("u"))
      .join(Tables.load(s, dir, "nation").select(col("n_nationkey").cast(LongType)
        .as("v"), col("n_name").as("name_v")), Seq("v"))
      .select(col("name_u"), col("name_v"), col("w"), col("rnk"))
      .orderBy(col("rnk"))
  }

  // ── q158: max rally / max drawdown per priority ───────────────────────

  def q158_drawdown_rally(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("pri"),
        to_date(col("o_orderdate")).as("d"))
      // floor, not cast: DuckDB CAST(double AS BIGINT) rounds to nearest
      // while Spark's cast truncates — floor agrees on both engines
      .agg(sum(floor(col("o_totalprice") * 100).cast(LongType)).as("cents"))
    val byDay = Window.partitionBy(col("pri")).orderBy(col("d"))
    val run = Window.partitionBy(col("pri")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("diff", col("cents") - lag(col("cents"), 1).over(byDay))
      .withColumn("p", sum(coalesce(col("diff"), lit(0L))).over(run))
      .withColumn("pmin", min(col("p")).over(run))
      .withColumn("pmax", max(col("p")).over(run))
      .groupBy(col("pri"))
      .agg(max(col("p") - col("pmin")).cast(LongType)
          .as("max_rally_cents"),
        max(col("pmax") - col("p")).cast(LongType)
          .as("max_drawdown_cents"))
      .orderBy(col("pri"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t62_bwt_probe"             -> (t62_bwt_probe _),
    "q157_max_spanning_backbone" -> (q157_max_spanning_backbone _),
    "q158_drawdown_rally"       -> (q158_drawdown_rally _))

  private val WBaseSql =
    """SELECT CAST(c.c_nationkey AS BIGINT) AS u,
      |    CAST(s.s_nationkey AS BIGINT) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS w
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey
      |  GROUP BY 1, 2""".stripMargin

  val oracles: Map[String, String] = Map(
    "t62_bwt_probe" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    substr(regexp_replace(lower(text), '[^a-z ]', '', 'g'), 1, 48)
        |      || '|' AS p
        |  FROM documents),
        |rot AS (
        |  SELECT doc_id, p, length(p) AS n,
        |    list_sort(list_transform(range(0, length(p)),
        |      i -> substr(p, CAST(i + 1 AS INTEGER)) ||
        |           substr(p, 1, CAST(i AS INTEGER)))) AS rots
        |  FROM s),
        |b AS (
        |  SELECT doc_id, n,
        |    list_aggregate(list_transform(rots,
        |      r -> substr(r, CAST(n AS INTEGER), 1)), 'string_agg', '')
        |      AS bwt
        |  FROM rot),
        |runs AS (
        |  SELECT b.doc_id, b.bwt,
        |    CAST(1 + len(list_filter(range(2, b.n + 1), i ->
        |      substr(b.bwt, CAST(i AS INTEGER), 1) <>
        |      substr(b.bwt, CAST(i - 1 AS INTEGER), 1))) AS BIGINT)
        |      AS bwt_runs,
        |    CAST(1 + len(list_filter(range(2, b.n + 1), i ->
        |      substr(s.p, CAST(i AS INTEGER), 1) <>
        |      substr(s.p, CAST(i - 1 AS INTEGER), 1))) AS BIGINT)
        |      AS raw_runs
        |  FROM b JOIN s ON s.doc_id = b.doc_id)
        |SELECT doc_id, bwt, bwt_runs, raw_runs,
        |  ROUND(CAST(bwt_runs AS DOUBLE) / raw_runs, 6) AS clustering_gain
        |FROM runs ORDER BY doc_id""".stripMargin,
    "q157_max_spanning_backbone" ->
      s"""WITH RECURSIVE wb AS ($WBaseSql),
        |ranked AS (
        |  SELECT u, v, w, ROW_NUMBER() OVER (ORDER BY w DESC, u, v) AS rn,
        |    COUNT(*) OVER () AS ne
        |  FROM wb),
        |arr AS (
        |  SELECT list(u ORDER BY rn) AS us, list(v ORDER BY rn) AS vs,
        |    list(w ORDER BY rn) AS ws, MAX(ne) AS ne
        |  FROM ranked),
        |verts AS (
        |  SELECT list_sort(list_distinct(us || vs)) AS nks FROM arr),
        |g AS (
        |  SELECT 0 AS i, nks, nks AS lbl, CAST([] AS BIGINT[]) AS flags,
        |    us, vs, ws, ne
        |  FROM arr, verts
        |  UNION ALL
        |  SELECT i + 1, nks,
        |    CASE WHEN lbl[list_position(nks, us[i + 1])] =
        |              lbl[list_position(nks, vs[i + 1])]
        |      THEN lbl
        |      ELSE list_transform(lbl, x -> CASE
        |        WHEN x = lbl[list_position(nks, vs[i + 1])]
        |        THEN lbl[list_position(nks, us[i + 1])] ELSE x END) END,
        |    list_append(flags,
        |      CASE WHEN lbl[list_position(nks, us[i + 1])] =
        |                lbl[list_position(nks, vs[i + 1])]
        |        THEN 0 ELSE 1 END),
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
        |ORDER BY m.rnk""".stripMargin,
    "q158_drawdown_rally" ->
      """WITH daily AS (
        |  SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS d,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1, 2),
        |delta AS (
        |  SELECT pri, d, cents,
        |    cents - LAG(cents) OVER (PARTITION BY pri ORDER BY d) AS diff
        |  FROM daily),
        |pfx AS (
        |  SELECT pri, d,
        |    SUM(coalesce(diff, 0)) OVER (PARTITION BY pri ORDER BY d
        |      ROWS UNBOUNDED PRECEDING) AS p
        |  FROM delta),
        |ext AS (
        |  SELECT pri, d, p,
        |    MIN(p) OVER (PARTITION BY pri ORDER BY d
        |      ROWS UNBOUNDED PRECEDING) AS pmin,
        |    MAX(p) OVER (PARTITION BY pri ORDER BY d
        |      ROWS UNBOUNDED PRECEDING) AS pmax
        |  FROM pfx)
        |SELECT pri,
        |  CAST(MAX(p - pmin) AS BIGINT) AS max_rally_cents,
        |  CAST(MAX(pmax - p) AS BIGINT) AS max_drawdown_cents
        |FROM ext GROUP BY pri ORDER BY pri""".stripMargin)
}
