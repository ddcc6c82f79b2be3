package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Hundred-second batch — financial variance decomposition, ordered
  * dithering, and sequence predictability:
  *
  *  - q145: price-volume decomposition of the 1995→1996 revenue delta
  *    per brand (the FP&A classic): volume effect (Δq·p₀) and price
  *    effect (q₁·Δp) with unit prices p=r/q left as exact rationals by
  *    multiplying through by q₀·q₁ — the identity
  *    `volume_n + price_n = Δrev·q₀·q₁` holds EXACTLY in
  *    DECIMAL(38,0)/HUGEINT (the cross products overflow BIGINT at
  *    sf0.1) and both sides ship as strings so the gate checks the
  *    decomposition itself, not just rounded effects.
  *  - m36: ordered (Bayer 4×4) dithering — the stateless halftone:
  *    bit = v > 16·B(x mod 4, y mod 4) + 8, bitmap packed into two
  *    32-bit halves (a single 64-bit pack would overflow the signed
  *    sum at bit 63). Per-doc on-count plus both halves gated.
  *  - t57: entropy rate of the event-type Markov chain —
  *    H = −Σᵢ πᵢ Σⱼ pᵢⱼ log₂ pᵢⱼ with the empirical transition
  *    distribution; integer counts everywhere, logs only in the final
  *    rounded scalar. ≈2.32 bits at sf0.01 = near the log₂ 5 ceiling,
  *    the honest read that synthetic events are near-uniform.
  *
  * Scale: q145 is two narrow aggregates + a 25-row pivot; m36 per-row
  * array arithmetic; t57 one lead-window pass into a ≤25-cell matrix.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round102Queries extends QueryModule {

  // ── q145: exact price-volume-mix decomposition ────────────────────────

  def q145_price_volume_mix(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(s, dir, "lineitem")
    val li = l.join(Tables.load(s, dir, "part").select(col("p_partkey"),
        col("p_brand").as("brand")),
        col("p_partkey") === col("l_partkey"))
      .withColumn("yr", year(Tables.tsMicros(l, "l_shipdate")))
      .filter(col("yr").isin(1995, 1996))
      .groupBy(col("brand"), col("yr"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"),
        sum(expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")).as("rev"))
    val w = li.groupBy(col("brand"))
      .agg(max(when(col("yr") === 1995, col("qty"))).as("q0"),
        max(when(col("yr") === 1995, col("rev"))).as("r0"),
        max(when(col("yr") === 1996, col("qty"))).as("q1"),
        max(when(col("yr") === 1996, col("rev"))).as("r1"))
      .filter(col("q0").isNotNull && col("q1").isNotNull)
    w.select(col("brand"), col("q0"), col("q1"), col("r0"), col("r1"),
        (col("r1") - col("r0")).as("total_delta"),
        expr("CAST((q1 - q0) AS DECIMAL(38,0)) * r0 * q1").as("vn"),
        expr("""CAST(q1 AS DECIMAL(38,0))
          | * (CAST(r1 AS DECIMAL(38,0)) * q0
          |    - CAST(r0 AS DECIMAL(38,0)) * q1)""".stripMargin).as("pn"),
        expr("CAST(q0 AS DECIMAL(38,0)) * q1").as("denom"))
      .select(col("brand"), col("q0"), col("q1"), col("r0"), col("r1"),
        col("total_delta"),
        round(col("vn").cast("double") / col("denom").cast("double") / 100,
          2).as("volume_effect_usd"),
        round(col("pn").cast("double") / col("denom").cast("double") / 100,
          2).as("price_effect_usd"),
        (col("vn") + col("pn")).cast("string").as("check_n"),
        (col("total_delta").cast("decimal(38,0)") * col("denom"))
          .cast("string").as("check_d"))
      .orderBy(col("brand"))
  }

  // ── m36: Bayer 4×4 ordered dithering ──────────────────────────────────

  private val BayerSql =
    "array(0, 8, 2, 10, 12, 4, 14, 6, 3, 11, 1, 9, 15, 7, 13, 5)"

  def m36_ordered_dither(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ImageExprs
    Tables.load(s, dir, "documents").select(col("doc_id"),
        ImageExprs.decodePixels(
          ImageExprs.encodeImageFromText(col("text"), "pgm", 8, 8)).as("px"))
      .select(col("doc_id"), posexplode(col("px")).as(Seq("i", "v")))
      .select(col("doc_id"), col("i"),
        expr(s"""CASE WHEN CAST(v AS BIGINT) >
          |  16 * element_at($BayerSql,
          |    CAST((i div 8 % 4) * 4 + i % 8 % 4 + 1 AS INT)) + 8
          |  THEN 1L ELSE 0L END""".stripMargin).as("bit"))
      .groupBy(col("doc_id"))
      .agg(sum(col("bit")).as("n_on"),
        sum(when(col("i") < 32,
          expr("shiftleft(bit, CAST(i AS INT))")).otherwise(0L))
          .as("bm_lo"),
        sum(when(col("i") >= 32,
          expr("shiftleft(bit, CAST(i - 32 AS INT))")).otherwise(0L))
          .as("bm_hi"))
      .orderBy(col("doc_id"))
  }

  // ── t57: Markov entropy rate of event types ───────────────────────────

  def t57_markov_entropy_rate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(s, dir, "events")
    val e = ev.select(col("user_id"), col("event_type"),
        unix_micros(Tables.tsMicros(ev)).as("us"), col("event_id"))
      .withColumn("nxt", lead(col("event_type"), 1).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))))
      .filter(col("nxt").isNotNull)
    val c = e.groupBy(col("event_type").as("a"), col("nxt").as("b"))
      .agg(count(lit(1)).as("n"))
    val rowsum = c.groupBy(col("a")).agg(sum(col("n")).as("na"))
    val tot = c.agg(sum(col("n")).as("t"))
    c.join(rowsum, "a").crossJoin(broadcast(tot))
      .agg(
        round(-sum((col("na").cast("double") / col("t")) *
          (col("n").cast("double") / col("na")) *
          log(col("n").cast("double") / col("na"))) / log(lit(2.0)), 6)
          .as("entropy_rate_bits"),
        count(lit(1)).as("n_transition_kinds"),
        min(col("n")).as("min_cell"), max(col("n")).as("max_cell"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q145_price_volume_mix"   -> (q145_price_volume_mix _),
    "m36_ordered_dither"      -> (m36_ordered_dither _),
    "t57_markov_entropy_rate" -> (t57_markov_entropy_rate _))

  val oracles: Map[String, String] = Map(
    "q145_price_volume_mix" ->
      """WITH li AS (
        |  SELECT p.p_brand AS brand, year(l.l_shipdate) AS yr,
        |    CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |    CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE year(l.l_shipdate) IN (1995, 1996)
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT brand,
        |    MAX(CASE WHEN yr = 1995 THEN qty END) AS q0,
        |    MAX(CASE WHEN yr = 1995 THEN rev END) AS r0,
        |    MAX(CASE WHEN yr = 1996 THEN qty END) AS q1,
        |    MAX(CASE WHEN yr = 1996 THEN rev END) AS r1
        |  FROM li GROUP BY brand),
        |eff AS (
        |  SELECT brand, q0, q1, r0, r1, (r1 - r0) AS total_delta,
        |    CAST(q1 - q0 AS HUGEINT) * r0 * q1 AS vn,
        |    CAST(q1 AS HUGEINT)
        |      * (CAST(r1 AS HUGEINT) * q0 - CAST(r0 AS HUGEINT) * q1)
        |      AS pn,
        |    CAST(q0 AS HUGEINT) * q1 AS denom
        |  FROM w WHERE q0 IS NOT NULL AND q1 IS NOT NULL)
        |SELECT brand, q0, q1, r0, r1, total_delta,
        |  ROUND(CAST(vn AS DOUBLE) / CAST(denom AS DOUBLE) / 100, 2)
        |    AS volume_effect_usd,
        |  ROUND(CAST(pn AS DOUBLE) / CAST(denom AS DOUBLE) / 100, 2)
        |    AS price_effect_usd,
        |  CAST(vn + pn AS VARCHAR) AS check_n,
        |  CAST(CAST(total_delta AS HUGEINT) * denom AS VARCHAR)
        |    AS check_d
        |FROM eff ORDER BY brand""".stripMargin,
    "m36_ordered_dither" ->
      """WITH px AS (
        |  SELECT doc_id, i - 1 AS i,
        |    ord(substr(text, CAST(((i - 1) % length(text)) + 1 AS INT), 1))
        |      % 256 AS v
        |  FROM documents CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
        |bits AS (
        |  SELECT doc_id, i,
        |    CASE WHEN v > 16 * ([0, 8, 2, 10, 12, 4, 14, 6, 3, 11, 1, 9,
        |      15, 7, 13, 5][CAST((i // 8 % 4) * 4 + i % 8 % 4 + 1
        |        AS INT)]) + 8
        |      THEN 1 ELSE 0 END AS bit
        |  FROM px)
        |SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS n_on,
        |  CAST(SUM(CASE WHEN i < 32 THEN bit * (1::BIGINT << CAST(i AS INT))
        |    ELSE 0 END) AS BIGINT) AS bm_lo,
        |  CAST(SUM(CASE WHEN i >= 32
        |    THEN bit * (1::BIGINT << CAST(i - 32 AS INT)) ELSE 0 END)
        |    AS BIGINT) AS bm_hi
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t57_markov_entropy_rate" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS nxt
        |  FROM events),
        |c AS (
        |  SELECT event_type AS a, nxt AS b, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM e WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |rowsum AS (SELECT a, CAST(SUM(n) AS BIGINT) AS na FROM c
        |  GROUP BY a),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM c)
        |SELECT
        |  ROUND(-SUM((CAST(r.na AS DOUBLE) / t.t)
        |    * (CAST(c.n AS DOUBLE) / r.na)
        |    * ln(CAST(c.n AS DOUBLE) / r.na)) / ln(2), 6)
        |    AS entropy_rate_bits,
        |  CAST(COUNT(*) AS BIGINT) AS n_transition_kinds,
        |  CAST(MIN(c.n) AS BIGINT) AS min_cell,
        |  CAST(MAX(c.n) AS BIGINT) AS max_cell
        |FROM c JOIN rowsum r ON c.a = r.a CROSS JOIN tot t""".stripMargin)
}
