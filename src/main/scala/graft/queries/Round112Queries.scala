package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.Tables

/** Hundred-twelfth batch — distribution distance, exact pro-rata
  * allocation, and a second compressibility probe:
  *
  *  - q159: 1-D Wasserstein (earth-mover) distance between the
  *    hourly activity profiles of every event-type pair — the
  *    distribution-drift metric that, unlike KS, weights HOW FAR
  *    mass must move. Profiles are first normalized to integer
  *    per-mille mass via largest-remainder rounding (so each sums to
  *    exactly 1000 and the metric is scale-free), then
  *    EMD = Σ|cumulative difference| — all exact integers.
  *  - q160: largest-remainder (Hamilton) apportionment of 10000
  *    basis points of revenue across customer nations — the exact
  *    pro-rata allocation whose shares provably sum to the total
  *    (naive per-row rounding does not). Quotas and remainders stay
  *    in integer arithmetic; remainder ranking is tie-broken by
  *    nation name.
  *  - t63: LZ78 phrase count ([[graft.functions.Lz78Expr]]) of each
  *    document's sanitized prefix — phrase density upper-bounds the
  *    LZ-family code length, complementing t62's BWT clustering
  *    gain. Trie walk per row in codegen; the oracle replays the
  *    parse with a recursive CTE carrying the dictionary list.
  *
  * Scale: q159 is one shuffle to 24-slot profiles then bounded
  * windows; q160 is one aggregate plus a 25-row ranking; t63 is
  * per-row bounded work.
  *
  * Reference scope: extension beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round112Queries extends QueryModule {

  // ── q159: 1-D Wasserstein distance between hourly profiles ────────────

  def q159_wasserstein_drift(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val h = raw.select(col("event_type").as("et"),
        hour(Tables.tsMicros(raw)).cast(LongType).as("hr"))
      .groupBy(col("et"), col("hr")).agg(count(lit(1)).as("c"))
    val tot = h.groupBy(col("et")).agg(sum(col("c")).as("n"))
    val q = h.join(tot, Seq("et"))
      .select(col("et"), col("hr"),
        expr("(c * 1000) div n").cast(LongType).as("base"),
        expr("(c * 1000) % n").as("rem"))
    val leftover = q.groupBy(col("et"))
      .agg((lit(1000L) - sum(col("base"))).as("l"))
    val mass = q.withColumn("r", row_number().over(
        Window.partitionBy(col("et"))
          .orderBy(col("rem").desc, col("hr"))).cast(LongType))
      .join(broadcast(leftover), Seq("et"))
      .select(col("et"), col("hr"),
        (col("base") + when(col("r") <= col("l"), 1L).otherwise(0L))
          .as("m"))
      .localCheckpoint(true)
    val types = mass.select(col("et")).distinct()
    val grid = types.as("a").join(types.as("b"), col("a.et") < col("b.et"))
      .select(col("a.et").as("type_a"), col("b.et").as("type_b"))
      .crossJoin(broadcast(s.range(0, 24).select(col("id").as("hr"))))
    val dm = grid
      .join(mass.select(col("et").as("type_a"), col("hr"),
        col("m").as("ma")), Seq("type_a", "hr"), "left")
      .join(mass.select(col("et").as("type_b"), col("hr"),
        col("m").as("mb")), Seq("type_b", "hr"), "left")
      .select(col("type_a"), col("type_b"), col("hr"),
        (coalesce(col("ma"), lit(0L)) - coalesce(col("mb"), lit(0L)))
          .as("diff"))
    val run = Window.partitionBy(col("type_a"), col("type_b"))
      .orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dm.withColumn("cum", sum(col("diff")).over(run))
      .groupBy(col("type_a"), col("type_b"))
      .agg(sum(abs(col("cum"))).cast(LongType).as("emd_permille_hours"))
      .orderBy(col("type_a"), col("type_b"))
  }

  // ── q160: largest-remainder apportionment of revenue basis points ─────

  def q160_largest_remainder(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.load(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(floor(col("o_totalprice") * 100).cast(LongType)).as("cents"))
    val tot = spend.agg(sum(col("cents")).as("t"))
    val q = spend.crossJoin(broadcast(tot))
      .select(col("n_name"), col("cents"),
        expr("(cents * 10000) div t").cast(LongType).as("base"),
        expr("(cents * 10000) % t").as("rem"))
    val leftover = q.agg((lit(10000L) - sum(col("base"))).as("l"))
    q.withColumn("r", row_number().over(
        Window.orderBy(col("rem").desc, col("n_name"))).cast(LongType))
      .crossJoin(broadcast(leftover))
      .select(col("n_name"), col("cents"),
        (col("base") + when(col("r") <= col("l"), 1L).otherwise(0L))
          .as("basis_points"))
      .orderBy(col("n_name"))
  }

  // ── t63: LZ78 phrase-count compressibility probe ──────────────────────

  def t63_lz78_probe(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Lz78Expr
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "[^a-z ]", ""),
          1, 48).as("p"))
      .select(col("doc_id"),
        Lz78Expr.lz78Phrases(col("p")).as("lz78_phrases"),
        length(col("p")).cast(LongType).as("n_chars"))
      .select(col("doc_id"), col("lz78_phrases"), col("n_chars"),
        round(col("lz78_phrases").cast(DoubleType) /
          col("n_chars").cast(DoubleType), 6).as("phrase_density"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q159_wasserstein_drift" -> (q159_wasserstein_drift _),
    "q160_largest_remainder" -> (q160_largest_remainder _),
    "t63_lz78_probe"         -> (t63_lz78_probe _))

  val oracles: Map[String, String] = Map(
    "q159_wasserstein_drift" ->
      """WITH h AS (
        |  SELECT event_type AS et,
        |    CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT et, SUM(c) AS n FROM h GROUP BY 1),
        |q AS (
        |  SELECT h.et, h.hr, (1000 * h.c) // tot.n AS base,
        |    (1000 * h.c) % tot.n AS rem
        |  FROM h JOIN tot ON tot.et = h.et),
        |leftover AS (
        |  SELECT et, CAST(1000 - SUM(base) AS BIGINT) AS l FROM q GROUP BY 1),
        |rk AS (
        |  SELECT q.et, q.hr, q.base,
        |    ROW_NUMBER() OVER (PARTITION BY q.et ORDER BY q.rem DESC, q.hr)
        |      AS r
        |  FROM q),
        |mass AS (
        |  SELECT rk.et, rk.hr,
        |    CAST(rk.base + CASE WHEN rk.r <= lo.l THEN 1 ELSE 0 END
        |      AS BIGINT) AS m
        |  FROM rk JOIN leftover lo ON lo.et = rk.et),
        |grid AS (
        |  SELECT a.et AS type_a, b.et AS type_b, g.h AS hr
        |  FROM (SELECT DISTINCT et FROM mass) a
        |  JOIN (SELECT DISTINCT et FROM mass) b ON a.et < b.et
        |  CROSS JOIN (SELECT unnest(range(0, 24)) AS h) g),
        |dm AS (
        |  SELECT g.type_a, g.type_b, g.hr,
        |    coalesce(ma.m, 0) - coalesce(mb.m, 0) AS diff
        |  FROM grid g
        |  LEFT JOIN mass ma ON ma.et = g.type_a AND ma.hr = g.hr
        |  LEFT JOIN mass mb ON mb.et = g.type_b AND mb.hr = g.hr),
        |cm AS (
        |  SELECT type_a, type_b, hr,
        |    SUM(diff) OVER (PARTITION BY type_a, type_b ORDER BY hr
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM dm)
        |SELECT type_a, type_b, CAST(SUM(ABS(cum)) AS BIGINT)
        |  AS emd_permille_hours
        |FROM cm GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q160_largest_remainder" ->
      """WITH spend AS (
        |  SELECT n.n_name,
        |    CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n ON n.n_nationkey = c.c_nationkey
        |  GROUP BY 1),
        |tot AS (SELECT SUM(cents) AS t FROM spend),
        |q AS (
        |  SELECT s.n_name, s.cents, (10000 * s.cents) // tot.t AS base,
        |    (10000 * s.cents) % tot.t AS rem
        |  FROM spend s, tot),
        |lo AS (SELECT CAST(10000 - SUM(base) AS BIGINT) AS l FROM q),
        |rk AS (SELECT q.*, ROW_NUMBER() OVER (ORDER BY rem DESC, n_name)
        |       AS r FROM q)
        |SELECT n_name, cents,
        |  CAST(base + CASE WHEN r <= lo.l THEN 1 ELSE 0 END AS BIGINT)
        |    AS basis_points
        |FROM rk, lo ORDER BY n_name""".stripMargin,
    "t63_lz78_probe" ->
      """WITH RECURSIVE s AS (
        |  SELECT doc_id,
        |    substr(regexp_replace(lower(text), '[^a-z ]', '', 'g'), 1, 48)
        |      AS p
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, p, CAST(length(p) AS BIGINT) AS n,
        |    CAST(1 AS BIGINT) AS pos,
        |    CAST([] AS VARCHAR[]) AS dict, CAST(0 AS BIGINT) AS nphr
        |  FROM s
        |  UNION ALL
        |  SELECT doc_id, p, n,
        |    pos + best + 1,
        |    list_append(dict, substr(p, CAST(pos AS INTEGER),
        |      CAST(least(best + 1, n - pos + 1) AS INTEGER))),
        |    nphr + 1
        |  FROM (
        |    SELECT doc_id, p, n, pos, dict, nphr,
        |      coalesce(list_max(list_transform(
        |        list_filter(dict, d -> length(d) <= n - pos + 1 AND
        |          substr(p, CAST(pos AS INTEGER),
        |            CAST(length(d) AS INTEGER)) = d),
        |        d -> CAST(length(d) AS BIGINT))), 0) AS best
        |    FROM g) gg
        |  WHERE pos <= n)
        |SELECT doc_id, MAX(nphr) AS lz78_phrases, MAX(n) AS n_chars,
        |  ROUND(CAST(MAX(nphr) AS DOUBLE) / MAX(n), 6) AS phrase_density
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
