package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.Tables

/** Hundred-seventh batch — classical data-mining operators:
  *
  *  - q150: association-rule mining over order baskets (Agrawal &
  *    Srikant 1994): frequent brand pairs at 1% minimum support with
  *    support / confidence / lift per directed rule. The Apriori
  *    property is load-bearing in the plan — only items that pass
  *    the support floor enter the pair self-join, so the candidate
  *    space is pruned BEFORE the quadratic step, and every
  *    support/frequency table rides a broadcast.
  *  - q151: dynamic-time-warping distance between the 24-hour
  *    activity profiles of every event-type pair, against the L1
  *    (no-warp) baseline — shape-based series similarity. The O(n·m)
  *    DP runs inside one codegen'd expression ([[graft.functions.DtwExpr]]);
  *    the oracle replays it as a recursive CTE carrying the DP row
  *    as a LIST, with the within-row dependency resolved by the
  *    prefix-min identity. Integer costs end-to-end.
  *  - s24: local outlier factor (Breunig et al. 2000) with k=5 over
  *    the embeddings table — density-based outlier scoring on the
  *    exact kNN graph. Distances live on d5's round(x·10⁶) integer
  *    lattice, so the O(N²) hot path is one codegen'd 64-bit loop
  *    (l2sq_long) and kNN selection, k-distances and reachability
  *    sums are exact integers on any engine; only the final ratio
  *    average is float (round(·,12) → DECIMAL sum over 5 terms);
  *    top 20 outliers by (rounded LOF desc, vec_id).
  *
  * Scale: q150's pair join is keyed by basket id with per-basket
  * fan-out bounded by basket size (a-priori-pruned); q151 groups to
  * bounded 24-slot arrays then pure codegen over |types|² pairs;
  * s24's exact O(N²) distance stage is the labeled exact twin — at
  * 100 TB the kNN set comes from the s7 IVF / s2 LSH candidate path
  * (same downstream LOF algebra), as documented for s18.
  *
  * Reference scope: extension beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round107Queries extends QueryModule {

  // ── q150: association rules over order baskets of part brands ─────────

  def q150_basket_rules(s: SparkSession, dir: String): DataFrame = {
    val baskets = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey"))
      .join(broadcast(Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_brand").as("item"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("ok"), col("item")).distinct()
    val n = baskets.agg(countDistinct(col("ok")).as("n_baskets"))
    val items = baskets.groupBy(col("item")).agg(count(lit(1)).as("supp"))
    val freq = items.crossJoin(broadcast(n))
      .filter(col("supp") * 100 >= col("n_baskets"))
      .select(col("item"), col("supp"))
    // Apriori property: only frequent items enter the quadratic pair step
    val fb = baskets.join(broadcast(freq.select(col("item"))), Seq("item"))
    val strong = fb.as("a").join(fb.as("b"),
        col("a.ok") === col("b.ok") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("supp_ab"))
      .crossJoin(broadcast(n))
      .filter(col("supp_ab") * 100 >= col("n_baskets"))
    val rules = strong.select(col("item_a").as("antecedent"),
        col("item_b").as("consequent"), col("supp_ab"), col("n_baskets"))
      .unionByName(strong.select(col("item_b").as("antecedent"),
        col("item_a").as("consequent"), col("supp_ab"), col("n_baskets")))
    rules
      .join(broadcast(freq.select(col("item").as("antecedent"),
        col("supp").as("supp_a"))), Seq("antecedent"))
      .join(broadcast(freq.select(col("item").as("consequent"),
        col("supp").as("supp_c"))), Seq("consequent"))
      .select(col("antecedent"), col("consequent"), col("supp_ab"),
        round(col("supp_ab").cast(DoubleType) /
          col("n_baskets").cast(DoubleType), 6).as("support"),
        round(col("supp_ab").cast(DoubleType) /
          col("supp_a").cast(DoubleType), 6).as("confidence"),
        round((col("supp_ab") * col("n_baskets")).cast(DoubleType) /
          (col("supp_a") * col("supp_c")).cast(DoubleType), 6).as("lift"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  // ── q151: DTW between hourly activity profiles of event types ─────────

  def q151_dtw_profiles(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.DtwExpr
    val ev = Tables.load(s, dir, "events")
    val prof = ev
      .select(col("event_type").as("et"),
        hour(Tables.tsMicros(ev)).cast("long").as("hr"))
      .groupBy(col("et"), col("hr")).agg(count(lit(1)).as("c"))
      .groupBy(col("et"))
      .agg(map_from_entries(collect_list(struct(col("hr"), col("c"))))
        .as("m"))
      .select(col("et"),
        expr("transform(sequence(0L, 23L), h -> coalesce(element_at(m, h), 0L))")
          .as("v"))
    prof.as("a").join(prof.as("b"), col("a.et") < col("b.et"))
      .select(col("a.et").as("type_a"), col("b.et").as("type_b"),
        col("a.v").as("va"), col("b.v").as("vb"))
      .select(col("type_a"), col("type_b"),
        DtwExpr.dtw(col("va"), col("vb")).as("dtw_cost"),
        expr("aggregate(zip_with(va, vb, (x, y) -> abs(x - y)), 0L, (acc, v) -> acc + v)")
          .as("l1_cost"))
      .select(col("type_a"), col("type_b"), col("dtw_cost"), col("l1_cost"),
        round(col("dtw_cost").cast(DoubleType) /
          col("l1_cost").cast(DoubleType), 6).as("warp_gain"))
      .orderBy(col("type_a"), col("type_b"))
  }

  // ── s24: local outlier factor (k=5) over the embeddings table ─────────

  private val LofK = 5

  def s24_lof_outliers(s: SparkSession, dir: String): DataFrame = {
    // d5's integer lattice: quantize to round(x·10⁶) longs once, so every
    // pairwise squared distance is exact 64-bit arithmetic inside one
    // codegen'd loop (l2sq_long) — no decimal folds on the O(N²) hot path
    val v = graft.Tables.spread(Tables.load(s, dir, "embeddings")
      .select(col("vec_id").as("id"),
        transform(col("embedding"),
          x => round(x.cast(DoubleType) * lit(1e6)).cast("long")).as("q")))
    val half = v.as("x").join(v.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("pid"), col("y.id").as("oid"),
        graft.functions.NativeExprs.l2sqLong(col("x.q"), col("y.q"))
          .as("d2"))
    val dd = half.unionByName(half.select(col("oid").as("pid"),
      col("pid").as("oid"), col("d2")))
    val knn = dd.withColumn("r", row_number().over(
        Window.partitionBy(col("pid")).orderBy(col("d2"), col("oid"))))
      .filter(col("r") <= LofK)
      .select(col("pid"), col("oid"), col("d2"))
    val kdist = knn.groupBy(col("pid")).agg(max(col("d2")).as("kd"))
    val sumr = knn.join(kdist.select(col("pid").as("oid2"), col("kd")),
        col("oid") === col("oid2"))
      .groupBy(col("pid"))
      .agg(sum(greatest(col("kd"), col("d2"))).as("sr"))
    val lof = knn
      .join(sumr.select(col("pid"), col("sr").as("srp")), Seq("pid"))
      .join(sumr.select(col("pid").as("oid2"), col("sr").as("sro")),
        col("oid") === col("oid2"))
      .groupBy(col("pid"))
      .agg(sum(round(col("srp").cast(DoubleType) /
          col("sro").cast(DoubleType), 12).cast(DecimalType(28, 12)))
        .as("lsum"))
      .select(col("pid"),
        round(col("lsum").cast(DoubleType) / lit(LofK), 6).as("lof"))
    lof.join(Tables.load(s, dir, "embeddings").select(col("vec_id"), col("label")),
        col("pid") === col("vec_id"))
      .select(col("vec_id"), col("label"), col("lof"))
      .orderBy(col("lof").desc, col("vec_id"))
      .limit(20)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q150_basket_rules" -> (q150_basket_rules _),
    "q151_dtw_profiles" -> (q151_dtw_profiles _),
    "s24_lof_outliers"  -> (s24_lof_outliers _))

  val oracles: Map[String, String] = Map(
    "q150_basket_rules" ->
      """WITH baskets AS (
        |  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS item
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_baskets
        |      FROM baskets),
        |items AS (
        |  SELECT item, CAST(COUNT(*) AS BIGINT) AS supp
        |  FROM baskets GROUP BY 1),
        |freq AS (
        |  SELECT i.item, i.supp FROM items i, n
        |  WHERE i.supp * 100 >= n.n_baskets),
        |fb AS (SELECT b.* FROM baskets b JOIN freq f ON b.item = f.item),
        |strong AS (
        |  SELECT p.item_a, p.item_b, p.supp_ab, n.n_baskets
        |  FROM (
        |    SELECT a.item AS item_a, b.item AS item_b,
        |      CAST(COUNT(*) AS BIGINT) AS supp_ab
        |    FROM fb a JOIN fb b ON a.ok = b.ok AND a.item < b.item
        |    GROUP BY 1, 2) p, n
        |  WHERE p.supp_ab * 100 >= n.n_baskets),
        |rules AS (
        |  SELECT item_a AS antecedent, item_b AS consequent, supp_ab,
        |    n_baskets FROM strong
        |  UNION ALL
        |  SELECT item_b, item_a, supp_ab, n_baskets FROM strong)
        |SELECT r.antecedent, r.consequent, r.supp_ab,
        |  ROUND(CAST(r.supp_ab AS DOUBLE) / CAST(r.n_baskets AS DOUBLE), 6)
        |    AS support,
        |  ROUND(CAST(r.supp_ab AS DOUBLE) / CAST(fa.supp AS DOUBLE), 6)
        |    AS confidence,
        |  ROUND(CAST(r.supp_ab * r.n_baskets AS DOUBLE) /
        |        CAST(fa.supp * fc.supp AS DOUBLE), 6) AS lift
        |FROM rules r JOIN freq fa ON fa.item = r.antecedent
        |JOIN freq fc ON fc.item = r.consequent
        |ORDER BY r.antecedent, r.consequent""".stripMargin,
    "q151_dtw_profiles" ->
      """WITH RECURSIVE prof AS (
        |  SELECT event_type AS et,
        |    list_transform(range(0, 24), h -> coalesce(
        |      list_sum(list_transform(list_filter(list_zip(hs, cs),
        |        z -> z[1] = h), z -> z[2])), 0)) AS v
        |  FROM (
        |    SELECT event_type, list(hr) AS hs, list(c) AS cs
        |    FROM (SELECT event_type,
        |            CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT)
        |              AS hr,
        |            CAST(COUNT(*) AS BIGINT) AS c
        |          FROM events GROUP BY 1, 2)
        |    GROUP BY 1)),
        |pr AS (
        |  SELECT a.et AS type_a, b.et AS type_b, a.v AS va, b.v AS vb
        |  FROM prof a JOIN prof b ON a.et < b.et),
        |dp AS (
        |  SELECT type_a, type_b, va, vb, 1 AS i,
        |    list_transform(range(1, 25), j ->
        |      list_sum(list_transform(range(1, j + 1),
        |        t -> abs(va[1] - vb[t])))) AS row
        |  FROM pr
        |  UNION ALL
        |  SELECT type_a, type_b, va, vb, i + 1,
        |    list_transform(range(1, 25), j ->
        |      list_sum(list_transform(range(1, j + 1),
        |        t -> abs(va[i + 1] - vb[t]))) +
        |      list_min(list_transform(range(1, j + 1), k ->
        |        (CASE WHEN k = 1 THEN row[1]
        |              ELSE least(row[k - 1], row[k]) END) -
        |        CASE WHEN k = 1 THEN 0 ELSE
        |          list_sum(list_transform(range(1, k),
        |            t -> abs(va[i + 1] - vb[t]))) END))) AS row
        |  FROM dp WHERE i < 24)
        |SELECT type_a, type_b, CAST(row[24] AS BIGINT) AS dtw_cost,
        |  CAST(list_sum(list_transform(range(1, 25), t -> abs(va[t] - vb[t])))
        |    AS BIGINT) AS l1_cost,
        |  ROUND(CAST(row[24] AS DOUBLE) /
        |    CAST(list_sum(list_transform(range(1, 25),
        |      t -> abs(va[t] - vb[t]))) AS DOUBLE), 6) AS warp_gain
        |FROM dp WHERE i = 24
        |ORDER BY type_a, type_b""".stripMargin,
    "s24_lof_outliers" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000)
        |      AS BIGINT) AS qv,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |d AS (
        |  SELECT a.vec_id AS pid, b.vec_id AS oid,
        |    CAST(SUM((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS d2
        |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2),
        |dd AS (
        |  SELECT pid, oid, d2 FROM d
        |  UNION ALL SELECT oid, pid, d2 FROM d),
        |rk AS (
        |  SELECT pid, oid, d2,
        |    ROW_NUMBER() OVER (PARTITION BY pid ORDER BY d2, oid) AS r
        |  FROM dd),
        |knn AS (SELECT pid, oid, d2 FROM rk WHERE r <= 5),
        |kdist AS (SELECT pid, MAX(d2) AS kd FROM knn GROUP BY 1),
        |sumr AS (
        |  SELECT k.pid, SUM(GREATEST(ko.kd, k.d2)) AS sr
        |  FROM knn k JOIN kdist ko ON ko.pid = k.oid
        |  GROUP BY 1),
        |lof AS (
        |  SELECT k.pid,
        |    SUM(CAST(ROUND(CAST(sp.sr AS DOUBLE) / CAST(so.sr AS DOUBLE), 12)
        |        AS DECIMAL(28,12))) AS lsum
        |  FROM knn k JOIN sumr sp ON sp.pid = k.pid
        |  JOIN sumr so ON so.pid = k.oid
        |  GROUP BY 1)
        |SELECT l.pid AS vec_id, em.label,
        |  ROUND(CAST(l.lsum AS DOUBLE) / 5, 6) AS lof
        |FROM lof l JOIN embeddings em ON em.vec_id = l.pid
        |ORDER BY ROUND(CAST(l.lsum AS DOUBLE) / 5, 6) DESC, l.pid
        |LIMIT 20""".stripMargin)
}
