package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.Tables

/** Hundred-eighth batch — sequence decoding, key profiling, and
  * neighborhood recommendation:
  *
  *  - q152: Viterbi regime decoding — each order priority's monthly
  *    demand series becomes a binary above/below-mean observation
  *    sequence, and a fixed two-state min-sum HMM
  *    ([[graft.functions.ViterbiExpr]]) decodes the most likely
  *    high/low regime path. The forward DP + backpointer unwind runs
  *    inside one codegen'd expression per key; the oracle replays it
  *    as TWO recursive CTEs (forward carrying (dp0, dp1) plus
  *    growing backpointer lists, then a backward walk), and the
  *    query recomputes the path's cost from the decoded string so a
  *    suboptimal decode can't hash-match the oracle's DP optimum.
  *  - p52: minimal-unique-key discovery over a 6-column orders
  *    registry — the key-profiling primitive (which column sets are
  *    row-unique, and which of those are minimal): all 21 one- and
  *    two-column combinations counted in ONE scan via a single
  *    explode pass, minimality by joining each pair to its two
  *    single-column projections.
  *  - s25: item-item collaborative filtering (Sarwar et al. 2001) —
  *    co-purchase cosine similarity between part brands over order
  *    baskets, top-3 neighbors per item. Counts are exact integers;
  *    the only float is the final cosine (one sqrt + divide),
  *    rank-ordered by (rounded cosine desc, neighbor).
  *
  * Scale: q152 groups to bounded per-key month arrays then pure
  * codegen; p52's explode pass is |combos|× row multiplication with
  * map-side projection (at 100 TB the distinct counts become HLL
  * sketches feeding the same census); s25's pair join is keyed by
  * basket id with per-basket fan-out bounded by basket size.
  *
  * Reference scope: extension beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round108Queries extends QueryModule {

  // ── q152: Viterbi regime decoding over monthly priority demand ────────

  def q152_viterbi_regimes(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ViterbiExpr
    val base = Tables.load(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("pri"),
        ((year(col("o_orderdate")) - 1992) * 12 +
          month(col("o_orderdate")) - 1).cast("long").as("mb"))
      .agg(count(lit(1)).as("c"))
    val rng = base.agg(min(col("mb")).as("lo"), max(col("mb")).as("hi"))
    val obs = base.groupBy(col("pri"))
      .agg(map_from_entries(collect_list(struct(col("mb"), col("c"))))
        .as("m"))
      .crossJoin(broadcast(rng))
      .select(col("pri"),
        expr("transform(sequence(0L, hi - lo), i -> coalesce(element_at(m, lo + i), 0L))")
          .as("v"))
      .select(col("pri"),
        expr("""transform(v, x -> CAST(IF(x * size(v) >=
          aggregate(v, 0L, (a, b) -> a + b), 1, 0) AS LONG))""").as("o"))
    obs.select(col("pri"), col("o"),
        ViterbiExpr.viterbi(col("o")).as("path"))
      .select(col("pri"),
        // cost recomputed from the decoded path (emissions + transitions):
        // only the DP-optimal path reproduces the oracle's forward minimum
        (expr("""aggregate(transform(sequence(1, size(o)), i ->
            IF(o[i - 1] = CAST(substring(path, i, 1) AS LONG), 0L, 2L)),
          0L, (a, b) -> a + b)""") +
         expr("""IF(size(o) < 2, 0L,
          aggregate(transform(sequence(2, size(o)), i ->
            IF(substring(path, i, 1) = substring(path, i - 1, 1), 1L, 3L)),
          0L, (a, b) -> a + b))""")).as("cost"),
        col("path"),
        expr("CAST(length(replace(path, '0', '')) AS LONG)").as("n_high"))
      .orderBy(col("pri"))
  }

  // ── p52: minimal-unique-key discovery over an orders registry ─────────

  private val KeyCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  private val KeyCombos: Seq[Seq[String]] =
    KeyCols.map(Seq(_)) ++
      (for {
        i <- KeyCols.indices
        j <- (i + 1) until KeyCols.size
      } yield Seq(KeyCols(i), KeyCols(j)))

  def p52_key_discovery(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    // one scan: explode every combo's (name, serialized key) per row;
    // \u0001 can't occur in these columns, so the serialization is
    // injective and distinct-on-string == distinct-on-tuple
    val exploded = o.select(explode(array(KeyCombos.map { cs =>
        struct(lit(cs.mkString(",")).as("combo"),
          concat_ws("\u0001", cs.map(c => col(c).cast("string")): _*)
            .as("k"))
      }: _*)).as("e"))
      .select(col("e.combo").as("combo"), col("e.k").as("k"))
    val counts = exploded.groupBy(col("combo"))
      .agg(countDistinct(col("k")).as("n_distinct"))
      .crossJoin(broadcast(o.agg(count(lit(1)).as("n_rows"))))
      .withColumn("is_unique",
        (col("n_distinct") === col("n_rows")).cast("long"))
    val singles = counts.filter(!col("combo").contains(","))
      .select(col("combo").as("sc"), col("n_distinct").as("sd"))
    counts
      .join(broadcast(singles.select(col("sc").as("s1"), col("sd").as("d1"))),
        expr("get(split(combo, ','), 0)") === col("s1"), "left")
      .join(broadcast(singles.select(col("sc").as("s2"), col("sd").as("d2"))),
        // get() is null past the end, so single-column combos just miss
        expr("get(split(combo, ','), 1)") === col("s2"), "left")
      .select(col("combo"), col("n_distinct"), col("n_rows"),
        col("is_unique"),
        when(col("is_unique") === 1 && (!col("combo").contains(",") ||
            (col("d1") < col("n_rows") && col("d2") < col("n_rows"))), 1L)
          .otherwise(0L).as("is_minimal"))
      .orderBy(col("combo"))
  }

  // ── s25: item-item collaborative filtering over order baskets ─────────

  def s25_item_cf(s: SparkSession, dir: String): DataFrame = {
    val baskets = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey"))
      .join(broadcast(Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_brand").as("item"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("ok"), col("item")).distinct()
    val supp = baskets.groupBy(col("item")).agg(count(lit(1)).as("s"))
    val co = baskets.as("a").join(baskets.as("b"),
        col("a.ok") === col("b.ok") && col("a.item") =!= col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("c"))
    val sim = co
      .join(broadcast(supp.select(col("item").as("item_a"),
        col("s").as("sa"))), Seq("item_a"))
      .join(broadcast(supp.select(col("item").as("item_b"),
        col("s").as("sb"))), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("c"),
        round(col("c").cast(DoubleType) /
          sqrt((col("sa") * col("sb")).cast(DoubleType)), 6).as("cosine"))
    sim.withColumn("rnk", row_number().over(
        Window.partitionBy(col("item_a"))
          .orderBy(col("cosine").desc, col("item_b"))).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("item_a").as("item"), col("item_b").as("neighbor"),
        col("rnk"), col("c").as("co_count"), col("cosine"))
      .orderBy(col("item"), col("rnk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q152_viterbi_regimes" -> (q152_viterbi_regimes _),
    "p52_key_discovery"    -> (p52_key_discovery _),
    "s25_item_cf"          -> (s25_item_cf _))

  private val KeySingleSql = KeyCols.map { c =>
    s"SELECT '$c' AS combo, CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct FROM orders"
  }
  private val KeyPairSql = (for {
    i <- KeyCols.indices
    j <- (i + 1) until KeyCols.size
  } yield {
    val (a, b) = (KeyCols(i), KeyCols(j))
    s"SELECT '$a,$b' AS combo, CAST(COUNT(DISTINCT ($a, $b)) AS BIGINT) AS n_distinct FROM orders"
  })

  val oracles: Map[String, String] = Map(
    "q152_viterbi_regimes" ->
      """WITH RECURSIVE base AS (
        |  SELECT o_orderpriority AS pri,
        |    CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12 +
        |         (EXTRACT(month FROM o_orderdate) - 1) AS BIGINT) AS mb,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1, 2),
        |rng AS (SELECT MIN(mb) AS lo, MAX(mb) AS hi FROM base),
        |ser AS (
        |  SELECT g.pri,
        |    list_transform(range(0, r.hi - r.lo + 1), i -> coalesce(
        |      list_sum(list_transform(list_filter(list_zip(g.ms, g.cs),
        |        z -> z[1] = r.lo + i), z -> z[2])), 0)) AS v
        |  FROM (SELECT pri, list(mb) AS ms, list(c) AS cs FROM base
        |        GROUP BY 1) g, rng r),
        |obs AS (
        |  SELECT pri, CAST(len(v) AS BIGINT) AS nt,
        |    list_transform(v, x -> CASE WHEN x * len(v) >= list_sum(v)
        |      THEN 1 ELSE 0 END) AS o
        |  FROM ser),
        |fwd AS (
        |  SELECT pri, o, nt, CAST(1 AS BIGINT) AS t,
        |    CAST(CASE WHEN o[1] = 0 THEN 0 ELSE 2 END AS BIGINT) AS dp0,
        |    CAST(CASE WHEN o[1] = 1 THEN 0 ELSE 2 END AS BIGINT) AS dp1,
        |    CAST([] AS BIGINT[]) AS bp0s, CAST([] AS BIGINT[]) AS bp1s
        |  FROM obs
        |  UNION ALL
        |  SELECT pri, o, nt, t + 1,
        |    (CASE WHEN dp0 + 1 <= dp1 + 3 THEN dp0 + 1 ELSE dp1 + 3 END) +
        |      (CASE WHEN o[t + 1] = 0 THEN 0 ELSE 2 END),
        |    (CASE WHEN dp0 + 3 <= dp1 + 1 THEN dp0 + 3 ELSE dp1 + 1 END) +
        |      (CASE WHEN o[t + 1] = 1 THEN 0 ELSE 2 END),
        |    list_append(bp0s, CASE WHEN dp0 + 1 <= dp1 + 3 THEN 0 ELSE 1 END),
        |    list_append(bp1s, CASE WHEN dp0 + 3 <= dp1 + 1 THEN 0 ELSE 1 END)
        |  FROM fwd WHERE t < nt),
        |fin AS (
        |  SELECT pri, nt, bp0s, bp1s,
        |    CASE WHEN dp0 <= dp1 THEN 0 ELSE 1 END AS st,
        |    CASE WHEN dp0 <= dp1 THEN dp0 ELSE dp1 END AS cost
        |  FROM fwd WHERE t = nt),
        |unw AS (
        |  SELECT pri, bp0s, bp1s, cost, nt AS t, st AS s,
        |    CAST(st AS VARCHAR) AS path FROM fin
        |  UNION ALL
        |  SELECT pri, bp0s, bp1s, cost, t - 1,
        |    CASE WHEN s = 0 THEN bp0s[t - 1] ELSE bp1s[t - 1] END,
        |    CAST(CASE WHEN s = 0 THEN bp0s[t - 1] ELSE bp1s[t - 1] END
        |      AS VARCHAR) || path
        |  FROM unw WHERE t > 1)
        |SELECT pri, cost, path,
        |  CAST(length(replace(path, '0', '')) AS BIGINT) AS n_high
        |FROM unw WHERE t = 1 ORDER BY pri""".stripMargin,
    "p52_key_discovery" ->
      s"""WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders),
        |d AS (
        |  ${(KeySingleSql ++ KeyPairSql).mkString("\n  UNION ALL\n  ")}),
        |s AS (SELECT combo, n_distinct FROM d WHERE combo NOT LIKE '%,%'),
        |flagged AS (
        |  SELECT d.combo, d.n_distinct, n.n_rows,
        |    CAST(d.n_distinct = n.n_rows AS BIGINT) AS is_unique
        |  FROM d, n)
        |SELECT f.combo, f.n_distinct, f.n_rows, f.is_unique,
        |  CAST(f.is_unique = 1 AND (f.combo NOT LIKE '%,%' OR (
        |    (SELECT s1.n_distinct FROM s s1
        |     WHERE s1.combo = string_split(f.combo, ',')[1]) < f.n_rows AND
        |    (SELECT s2.n_distinct FROM s s2
        |     WHERE s2.combo = string_split(f.combo, ',')[2]) < f.n_rows))
        |    AS BIGINT) AS is_minimal
        |FROM flagged f
        |ORDER BY f.combo""".stripMargin,
    "s25_item_cf" ->
      """WITH baskets AS (
        |  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS item
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |supp AS (
        |  SELECT item, CAST(COUNT(*) AS BIGINT) AS s FROM baskets GROUP BY 1),
        |co AS (
        |  SELECT a.item AS item_a, b.item AS item_b,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM baskets a JOIN baskets b
        |    ON a.ok = b.ok AND a.item <> b.item
        |  GROUP BY 1, 2),
        |sim AS (
        |  SELECT co.item_a, co.item_b, co.c,
        |    ROUND(CAST(co.c AS DOUBLE) /
        |      sqrt(CAST(sa.s * sb.s AS DOUBLE)), 6) AS cosine
        |  FROM co JOIN supp sa ON sa.item = co.item_a
        |  JOIN supp sb ON sb.item = co.item_b),
        |rk AS (
        |  SELECT item_a, item_b, c, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY item_a
        |      ORDER BY cosine DESC, item_b) AS rnk
        |  FROM sim)
        |SELECT item_a AS item, item_b AS neighbor, CAST(rnk AS BIGINT) AS rnk,
        |  c AS co_count, cosine
        |FROM rk WHERE rnk <= 3 ORDER BY item, rnk""".stripMargin)
}
