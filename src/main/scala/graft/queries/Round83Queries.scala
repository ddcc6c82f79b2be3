package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables

/** Eighty-third batch — the nonparametric/robust statistics kit that
  * pairs with q119/q120's monitors:
  *
  *  - q123: Mann-Whitney U (Wilcoxon rank-sum) comparing the 1995 vs
  *    1996 order-value distributions. Ranks are computed per DISTINCT
  *    value (cless + average-of-tied-block), carried DOUBLED so tied
  *    mid-ranks stay integers; U, the rank sums, and the tie-correction
  *    term Σ(t³−t) are all exact BIGINT, and only the final z pays one
  *    double sqrt (exactly rounded IEEE → bit-identical cross-engine).
  *    The location-shift test that doesn't care about outliers — the
  *    right default for skewed spend distributions.
  *  - q124: effect size for q119's χ² — Cramér's V plus the top-3
  *    |Pearson residual| cells (which cells DRIVE the dependence).
  *    Residual numerators (O·n − rt·ct) are exact DECIMAL(38,0); each
  *    residual pays one sqrt. The "is it big" companion to q119's "is
  *    it real".
  *  - q125: autocorrelation (lags 1–7) of daily revenue in EXACT
  *    integer arithmetic: centering is done by the n-scaled trick
  *    c_t = n·x_t − Σx (no division, no floats), so
  *    r_k = Σ c_t·c_{t+k} / Σ c_t² is a ratio of exact DECIMAL(38,0)
  *    sums reported in truncated ppm. Zero floating point anywhere.
  *  - q126: Theil-Sen robust trend — the median of all pairwise slopes
  *    (66k pairs over a year of daily aggregates), each slope an exact
  *    truncated ppm/day. The slope estimator with a 29% breakdown
  *    point, vs q108's least-squares Holt.
  *
  * All four reduce the corpus to a constant-size aggregate (daily
  * totals / contingency cells / distinct-value rank table) BEFORE the
  * statistics, so the expensive pass is one groupBy each; the pairwise
  * stages run on ≤66k derived rows regardless of corpus size.
  *
  * Reference scope: beyond-reference analytics surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round83Queries extends QueryModule {

  // ── q123: Mann-Whitney U, 1995 vs 1996 order values ───────────────────

  def q123_mann_whitney(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= "1995-01-01" &&
        col("o_orderdate") < "1997-01-01")
      .select(round(col("o_totalprice") * 100).cast(LongType).as("v"),
        when(col("o_orderdate") < "1996-01-01", 1L).otherwise(2L).as("grp"))
    val dv = o.groupBy(col("v"))
      .agg(count(lit(1)).as("tc"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("c1"))
    // exclusive prefix count via Rank.prefixSum (inclusive scan minus own
    // count): dv is one row per distinct order value — corpus-
    // proportional, so the unpartitioned running-sum window would
    // single-task it (round-11 sweep)
    val rk = graft.operators.Rank.prefixSum(dv, "ctot", col("tc"), col("v"))
      .withColumn("cless", col("ctot") - col("tc"))
    rk.agg(sum(col("c1")).as("n1"), sum(col("tc") - col("c1")).as("n2"),
        sum(col("c1") * (lit(2) * col("cless") + col("tc") + 1)).as("r1_x2"),
        sum(col("tc") * col("tc") * col("tc") - col("tc")).as("tie_t"))
      .select(col("n1"), col("n2"),
        (col("r1_x2") - col("n1") * (col("n1") + 1)).as("u1_x2"),
        col("tie_t"),
        expr("""ROUND((CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE)
          | - CAST(n1 AS DOUBLE) * n2) /
          | (2.0 * sqrt(CAST(CAST(n1 AS DECIMAL(38,0)) * n2 *
          |   ((CAST(n1 + n2 + 1 AS DECIMAL(38,0)) * (n1 + n2)
          |     * (n1 + n2 - 1)) - tie_t)
          |   AS DOUBLE) / (12.0 * (n1 + n2) * (n1 + n2 - 1.0)))), 6)"""
          .stripMargin).as("z"))
  }

  // ── q124: Cramér's V + top Pearson-residual cells ─────────────────────

  def q124_cramers_v(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val e = ev.select(
      (datediff(Tables.tsMicros(ev).cast("date"), lit("2024-01-01"))
        % 7).cast(LongType).as("dow"),
      col("event_type").as("et"))
    val o = e.groupBy(col("dow"), col("et")).agg(count(lit(1)).as("obs"))
      .localCheckpoint()
    val rt = o.groupBy(col("dow")).agg(sum(col("obs")).as("rtot"))
    val ct = o.groupBy(col("et")).agg(sum(col("obs")).as("ctot"))
    val n = o.agg(sum(col("obs")).as("n"))
    val cells = o.join(broadcast(rt), "dow").join(broadcast(ct), "et")
      .crossJoin(broadcast(n))
      .select(col("dow"), col("et"), col("n"),
        expr("CAST(obs AS DECIMAL(38,0)) * n - CAST(rtot AS DECIMAL(38,0)) * ctot")
          .as("dev_n"),
        expr("CAST(rtot AS DECIMAL(38,0)) * ctot").as("e_n"))
      .localCheckpoint()
    val chi = cells.agg(
      sum(expr("dev_n * dev_n * 1000000 div (e_n * n)")).cast(LongType)
        .as("chi2_ppm"),
      max(col("n")).as("n"),
      count_distinct(col("dow")).as("r"), count_distinct(col("et")).as("c"))
    val resid = cells.select(col("dow"), col("et"),
      expr("ROUND(CAST(dev_n AS DOUBLE) / sqrt(CAST(e_n * n AS DOUBLE)), 6)")
        .as("pearson_resid"))
    val top3 = resid.withColumn("rk", row_number().over(
        Window.orderBy(abs(col("pearson_resid")).desc, col("dow"), col("et")))
        .cast(LongType))
      .filter(col("rk") <= 3)
    top3.crossJoin(broadcast(chi))
      .select(col("rk"), col("dow"), col("et"), col("pearson_resid"),
        col("chi2_ppm"),
        expr("""ROUND(sqrt(CAST(chi2_ppm AS DOUBLE) / 1000000.0 /
          | (CAST(n AS DOUBLE) *
          |  (CASE WHEN r < c THEN r ELSE c END - 1))), 6)""".stripMargin)
          .as("cramers_v"))
      .orderBy(col("rk"))
  }

  // ── q125: exact-integer ACF at lags 1..7 ──────────────────────────────

  def q125_acf(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= "1995-01-01" &&
        col("o_orderdate") < "1996-01-01")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast(LongType)).as("rev"))
      .localCheckpoint()
    val st = daily.agg(count(lit(1)).as("n"), sum(col("rev")).as("s"))
    val c = daily.crossJoin(broadcast(st))
      .select(col("d"),
        expr("CAST(rev AS DECIMAL(38,0)) * n - s").as("c"))
      .localCheckpoint()
    val den = c.agg(sum(col("c") * col("c")).as("den"))
    val lags = s.range(1, 8).select(col("id").cast("int").as("k"))
    val num = lags.crossJoin(c.as("a"))
      .join(c.as("b"), col("b.d") === date_add(col("a.d"), col("k")))
      .groupBy(col("k")).agg(sum(col("a.c") * col("b.c")).as("num"))
    num.crossJoin(broadcast(den))
      .select(col("k").cast(LongType).as("lag"),
        expr("CAST((num * 1000000) div den AS BIGINT)").as("acf_ppm"))
      .orderBy(col("lag"))
  }

  // ── q126: Theil-Sen median pairwise slope ─────────────────────────────

  def q126_theil_sen(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= "1995-01-01" &&
        col("o_orderdate") < "1996-01-01")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast(LongType)).as("rev"))
      .localCheckpoint()
    val pairs = daily.as("a").join(daily.as("b"), col("b.d") > col("a.d"))
      .select(expr("((b.rev - a.rev) * 1000000) div datediff(b.d, a.d)")
        .as("slope_ppm"))
    val ranked = pairs
      .withColumn("rn", row_number().over(Window.orderBy(col("slope_ppm"))))
      .withColumn("np", count(lit(1)).over(
        Window.partitionBy().rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    ranked.filter(expr("rn = (np + 1) div 2"))
      .select(col("np").cast(LongType).as("n_pairs"),
        col("slope_ppm").as("median_slope_ppm"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q123_mann_whitney" -> (q123_mann_whitney _),
    "q124_cramers_v"    -> (q124_cramers_v _),
    "q125_acf"          -> (q125_acf _),
    "q126_theil_sen"    -> (q126_theil_sen _))

  val oracles: Map[String, String] = Map(
    "q123_mann_whitney" ->
      """WITH s AS (
        |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
        |    CASE WHEN CAST(o_orderdate AS DATE) < DATE '1996-01-01'
        |      THEN 1 ELSE 2 END AS grp
        |  FROM orders
        |  WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
        |    AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'),
        |dv AS (
        |  SELECT v, CAST(COUNT(*) AS BIGINT) AS tc,
        |    CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM s GROUP BY 1),
        |rk AS (
        |  SELECT v, tc, c1,
        |    CAST(COALESCE(SUM(tc) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cless
        |  FROM dv),
        |agg AS (
        |  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
        |    CAST(SUM(tc - c1) AS BIGINT) AS n2,
        |    CAST(SUM(c1 * (2 * cless + tc + 1)) AS BIGINT) AS r1_x2,
        |    CAST(SUM(tc * tc * tc - tc) AS BIGINT) AS tie_t
        |  FROM rk)
        |SELECT n1, n2,
        |  r1_x2 - n1 * (n1 + 1) AS u1_x2, tie_t,
        |  ROUND((CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE)
        |    - CAST(n1 AS DOUBLE) * n2) /
        |    (2.0 * sqrt(CAST(CAST(n1 AS HUGEINT) * n2 *
        |      ((CAST(n1 + n2 + 1 AS HUGEINT) * (n1 + n2)
        |        * (n1 + n2 - 1)) - tie_t)
        |      AS DOUBLE) / (12.0 * (n1 + n2) * (n1 + n2 - 1.0)))), 6) AS z
        |FROM agg""".stripMargin,
    "q124_cramers_v" ->
      """WITH e AS (
        |  SELECT datediff('day', DATE '2024-01-01',
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 7 AS dow,
        |    event_type AS et
        |  FROM events),
        |o AS (SELECT dow, et, CAST(COUNT(*) AS BIGINT) AS obs
        |  FROM e GROUP BY 1, 2),
        |rt AS (SELECT dow, CAST(SUM(obs) AS BIGINT) AS rtot
        |  FROM o GROUP BY 1),
        |ct AS (SELECT et, CAST(SUM(obs) AS BIGINT) AS ctot
        |  FROM o GROUP BY 1),
        |n AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o),
        |cells AS (
        |  SELECT o.dow, o.et, n.n,
        |    CAST(o.obs AS HUGEINT) * n.n - CAST(rt.rtot AS HUGEINT) * ct.ctot
        |      AS dev_n,
        |    CAST(rt.rtot AS HUGEINT) * ct.ctot AS e_n
        |  FROM o JOIN rt USING (dow) JOIN ct USING (et) CROSS JOIN n),
        |chi AS (
        |  SELECT CAST(SUM(dev_n * dev_n * 1000000 // (e_n * n)) AS BIGINT)
        |    AS chi2_ppm, CAST(MAX(n) AS BIGINT) AS n,
        |    CAST(COUNT(DISTINCT dow) AS BIGINT) AS r,
        |    CAST(COUNT(DISTINCT et) AS BIGINT) AS c
        |  FROM cells),
        |resid AS (
        |  SELECT dow, et,
        |    ROUND(CAST(dev_n AS DOUBLE) / sqrt(CAST(e_n * n AS DOUBLE)), 6)
        |      AS pearson_resid
        |  FROM cells),
        |top3 AS (
        |  SELECT dow, et, pearson_resid,
        |    ROW_NUMBER() OVER (ORDER BY abs(pearson_resid) DESC, dow, et)
        |      AS rk
        |  FROM resid)
        |SELECT CAST(t.rk AS BIGINT) AS rk, CAST(t.dow AS BIGINT) AS dow,
        |  t.et, t.pearson_resid, chi.chi2_ppm,
        |  ROUND(sqrt(CAST(chi.chi2_ppm AS DOUBLE) / 1000000.0 /
        |    (CAST(chi.n AS DOUBLE) *
        |     (CASE WHEN chi.r < chi.c THEN chi.r ELSE chi.c END - 1))), 6)
        |    AS cramers_v
        |FROM top3 t CROSS JOIN chi WHERE t.rk <= 3 ORDER BY t.rk""".stripMargin,
    "q125_acf" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS rev
        |  FROM orders
        |  WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
        |    AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
        |  GROUP BY 1),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(rev) AS BIGINT) AS s FROM daily),
        |c AS (
        |  SELECT d, CAST(daily.rev AS HUGEINT) * st.n - st.s AS c
        |  FROM daily CROSS JOIN st),
        |den AS (SELECT SUM(c * c) AS den FROM c),
        |lags AS (SELECT unnest(range(1, 8)) AS k),
        |num AS (
        |  SELECT l.k, SUM(a.c * b.c) AS num
        |  FROM lags l
        |  JOIN c a ON TRUE
        |  JOIN c b ON b.d = a.d + CAST(l.k AS INT)
        |  GROUP BY 1)
        |SELECT CAST(k AS BIGINT) AS lag,
        |  CAST((num * 1000000) // den AS BIGINT) AS acf_ppm
        |FROM num CROSS JOIN den ORDER BY lag""".stripMargin,
    "q126_theil_sen" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS rev
        |  FROM orders
        |  WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
        |    AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
        |  GROUP BY 1),
        |pairs AS (
        |  SELECT ((b.rev - a.rev) * 1000000) // datediff('day', a.d, b.d)
        |    AS slope_ppm
        |  FROM daily a JOIN daily b ON b.d > a.d),
        |ranked AS (
        |  SELECT slope_ppm, ROW_NUMBER() OVER (ORDER BY slope_ppm) AS rn,
        |    COUNT(*) OVER () AS np
        |  FROM pairs)
        |SELECT CAST(np AS BIGINT) AS n_pairs, slope_ppm AS median_slope_ppm
        |FROM ranked WHERE rn = (np + 1) // 2""".stripMargin)
}
