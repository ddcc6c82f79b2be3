package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Ninety-sixth batch — checksum-grade PII validation, business-day
  * calendar arithmetic, and exact distribution moments:
  *
  *  - t53: Luhn mod-10 validation (the card/IMEI checksum) — 12-digit
  *    candidate numbers derived from doc ids with the check digit
  *    forced valid for every third doc and forced invalid otherwise;
  *    the digit-doubling DP runs as list lambdas in both engines and
  *    the census proves exact precision AND recall (n_valid ==
  *    n_planted). This is the precision upgrade over t8's regex-only
  *    PII scan: a 16-digit string is only worth redacting if its
  *    checksum validates.
  *  - q138: business days between order date and first ship date —
  *    closed form (full weeks × 5 plus a ≤6-day tail scanned by
  *    day-of-week), no calendar table join. Engine pitfall pinned:
  *    Spark's dayofweek is 1=Sunday..7, DuckDB's is 0=Sunday..6 — the
  *    weekend sets differ textually but the semantics are proven equal
  *    by the hash gate.
  *  - a23: per-segment skewness and excess kurtosis from exact integer
  *    power sums (Σx..Σx⁴ as DECIMAL(38,0) / HUGEINT — x⁴ overflows
  *    BIGINT at cent scale, exactness needs 128 bits). The raw sums
  *    ship as strings in the output, so the gate covers the exact
  *    accumulation, not just the final rounded statistics.
  *
  * Scale: all three are single-pass aggregations; a23's power sums are
  * the canonical one-pass mergeable moment state (what a distributed
  * profiler keeps per partition and merges).
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round96Queries extends QueryModule {

  // ── t53: Luhn checksum validation census ──────────────────────────────

  def t53_luhn_validation(s: SparkSession, dir: String): DataFrame = {
    val cand = Tables.load(s, dir, "documents").select(col("doc_id"),
      expr("lpad(CAST((doc_id * 48271 % 100000000000) AS STRING), 11, '0')")
        .as("body"))
    val withSum = cand.withColumn("s", expr(
      """aggregate(transform(sequence(1, 11), i ->
        |  CASE WHEN i % 2 = 1
        |    THEN (CASE WHEN 2 * CAST(substring(reverse(body), i, 1) AS INT)
        |            > 9
        |      THEN 2 * CAST(substring(reverse(body), i, 1) AS INT) - 9
        |      ELSE 2 * CAST(substring(reverse(body), i, 1) AS INT) END)
        |    ELSE CAST(substring(reverse(body), i, 1) AS INT) END),
        |  0L, (acc, x) -> acc + x)""".stripMargin))
    val probe = withSum.withColumn("probe", expr(
      """CASE WHEN doc_id % 3 = 0
        |  THEN concat(body, CAST((10 - s % 10) % 10 AS STRING))
        |  ELSE concat(body, CAST((10 - s % 10 + 1) % 10 AS STRING))
        |END""".stripMargin))
    probe.withColumn("tot", expr(
      """aggregate(transform(sequence(1, 12), i ->
        |  CASE WHEN i % 2 = 0
        |    THEN (CASE WHEN 2 * CAST(substring(reverse(probe), i, 1) AS INT)
        |            > 9
        |      THEN 2 * CAST(substring(reverse(probe), i, 1) AS INT) - 9
        |      ELSE 2 * CAST(substring(reverse(probe), i, 1) AS INT) END)
        |    ELSE CAST(substring(reverse(probe), i, 1) AS INT) END),
        |  0L, (acc, x) -> acc + x)""".stripMargin))
      .agg(count(lit(1)).as("n"),
        sum(when(col("tot") % 10 === 0, 1L).otherwise(0L)).as("n_valid"),
        sum(when(col("doc_id") % 3 === 0, 1L).otherwise(0L))
          .as("n_planted"))
  }

  // ── q138: business-day gap census (no calendar table) ─────────────────

  def q138_business_days(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val l = Tables.load(s, dir, "lineitem")
    val pairs = o.select(col("o_orderkey"),
        to_date(Tables.tsMicros(o, "o_orderdate")).as("d1"))
      .join(l.select(col("l_orderkey"),
          to_date(Tables.tsMicros(l, "l_shipdate")).as("sd")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("d1")).agg(min(col("sd")).as("d2"))
      .filter(col("d2") >= col("d1"))
    // NB: Spark's sequence(1, 0) is DESCENDING [1, 0], not empty — the
    // tail must be guarded explicitly when the gap is a whole number of
    // weeks (DuckDB's range(1, 1) is empty, so the oracle needs only a
    // COALESCE for the same case)
    pairs.withColumn("bdays", expr(
      """(CAST(datediff(d2, d1) AS BIGINT) div 7) * 5 +
        |aggregate(transform(
        |  slice(sequence(1L, 7L), 1,
        |    CAST(CAST(datediff(d2, d1) AS BIGINT) % 7 AS INT)),
        |  k -> CASE WHEN dayofweek(date_add(d1, CAST(k AS INT)))
        |    IN (1, 7) THEN 0L ELSE 1L END),
        |  0L, (acc, x) -> acc + x)""".stripMargin))
      .groupBy(col("bdays")).agg(count(lit(1)).as("n_orders"))
      .orderBy(col("bdays"))
  }

  // ── a23: exact power-sum moments (skewness + excess kurtosis) ─────────

  def a23_higher_moments(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.load(s, dir, "customer").select(col("c_mktsegment").as("seg"),
      expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)").as("x"))
    val p = b.groupBy(col("seg")).agg(count(lit(1)).as("n"),
      sum(expr("CAST(x AS DECIMAL(38,0))")).as("d1"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("d2"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x * x")).as("d3"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x * x * x")).as("d4"))
    p.select(col("seg"), col("n"),
        col("d1").cast("string").as("s1"), col("d2").cast("string").as("s2"),
        col("d3").cast("string").as("s3"), col("d4").cast("string").as("s4"))
      .withColumn("m1", expr("CAST(s1 AS DOUBLE) / n"))
      .withColumn("m2", expr("CAST(s2 AS DOUBLE) / n - m1 * m1"))
      .withColumn("m3", expr(
        "CAST(s3 AS DOUBLE) / n - 3.0 * m1 * (CAST(s2 AS DOUBLE) / n)" +
          " + 2.0 * m1 * m1 * m1"))
      .withColumn("m4", expr(
        "CAST(s4 AS DOUBLE) / n - 4.0 * m1 * (CAST(s3 AS DOUBLE) / n)" +
          " + 6.0 * m1 * m1 * (CAST(s2 AS DOUBLE) / n)" +
          " - 3.0 * m1 * m1 * m1 * m1"))
      .select(col("seg"), col("n"), col("s1"), col("s2"), col("s3"),
        col("s4"),
        round(expr("m3 / pow(m2, 1.5)"), 6).as("skewness"),
        round(expr("m4 / (m2 * m2) - 3.0"), 6).as("excess_kurtosis"))
      .orderBy(col("seg"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t53_luhn_validation" -> (t53_luhn_validation _),
    "q138_business_days"  -> (q138_business_days _),
    "a23_higher_moments"  -> (a23_higher_moments _))

  val oracles: Map[String, String] = Map(
    "t53_luhn_validation" ->
      """WITH cand AS (
        |  SELECT doc_id,
        |    lpad(CAST((doc_id * 48271 % 100000000000) AS VARCHAR), 11, '0')
        |      AS body
        |  FROM documents),
        |luhn AS (
        |  SELECT doc_id, body,
        |    CAST(list_sum(list_transform(range(1, 12), i ->
        |      CASE WHEN i % 2 = 1
        |        THEN (CASE WHEN 2 * CAST(substr(reverse(body), i, 1) AS INT)
        |                > 9
        |          THEN 2 * CAST(substr(reverse(body), i, 1) AS INT) - 9
        |          ELSE 2 * CAST(substr(reverse(body), i, 1) AS INT) END)
        |        ELSE CAST(substr(reverse(body), i, 1) AS INT) END))
        |      AS BIGINT) AS s
        |  FROM cand),
        |full_num AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN body || CAST((10 - s % 10) % 10 AS VARCHAR)
        |      ELSE body || CAST((10 - s % 10 + 1) % 10 AS VARCHAR) END
        |      AS probe
        |  FROM luhn),
        |check2 AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(1, 13), i ->
        |      CASE WHEN i % 2 = 0
        |        THEN (CASE WHEN 2 * CAST(substr(reverse(probe), i, 1) AS INT)
        |                > 9
        |          THEN 2 * CAST(substr(reverse(probe), i, 1) AS INT) - 9
        |          ELSE 2 * CAST(substr(reverse(probe), i, 1) AS INT) END)
        |        ELSE CAST(substr(reverse(probe), i, 1) AS INT) END))
        |      AS BIGINT) AS tot
        |  FROM full_num)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN tot % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_valid,
        |  CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_planted
        |FROM check2""".stripMargin,
    "q138_business_days" ->
      """WITH pairs AS (
        |  SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS d1,
        |    CAST(MIN(l.l_shipdate) AS DATE) AS d2
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |bd AS (
        |  SELECT o_orderkey,
        |    (CAST(d2 - d1 AS BIGINT) // 7) * 5 +
        |    CAST(COALESCE(list_sum(list_transform(
        |      range(1, CAST(d2 - d1 AS BIGINT) % 7 + 1),
        |      k -> CASE WHEN dayofweek(d1 + CAST(k AS INT)) IN (0, 6)
        |        THEN 0 ELSE 1 END)), 0) AS BIGINT) AS bdays
        |  FROM pairs WHERE d2 >= d1)
        |SELECT bdays, CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM bd GROUP BY 1 ORDER BY 1""".stripMargin,
    "a23_higher_moments" ->
      """WITH b AS (
        |  SELECT c_mktsegment AS seg,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS x
        |  FROM customer),
        |p AS (
        |  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(x AS HUGEINT)) AS VARCHAR) AS s1,
        |    CAST(SUM(CAST(x AS HUGEINT) * x) AS VARCHAR) AS s2,
        |    CAST(SUM(CAST(x AS HUGEINT) * x * x) AS VARCHAR) AS s3,
        |    CAST(SUM(CAST(x AS HUGEINT) * x * x * x) AS VARCHAR) AS s4
        |  FROM b GROUP BY seg),
        |m AS (
        |  SELECT seg, n, s1, s2, s3, s4,
        |    CAST(s1 AS DOUBLE) / n AS m1,
        |    CAST(s2 AS DOUBLE) / n
        |      - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m2,
        |    CAST(s3 AS DOUBLE) / n
        |      - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
        |      + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
        |        * (CAST(s1 AS DOUBLE) / n) AS m3,
        |    CAST(s4 AS DOUBLE) / n
        |      - 4.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
        |      + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
        |        * (CAST(s2 AS DOUBLE) / n)
        |      - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
        |        * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m4
        |  FROM p)
        |SELECT seg, n, s1, s2, s3, s4,
        |  ROUND(m3 / pow(m2, 1.5), 6) AS skewness,
        |  ROUND(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis
        |FROM m ORDER BY seg""".stripMargin)
}
