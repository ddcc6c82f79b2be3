package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ImageExprs

/** Ninety-first batch — game-theoretic attribution, wavelet image
  * signatures, and rank correlation:
  *
  *  - q132: exact Shapley-value attribution (Shapley 1953; the
  *    marketing formulation of Zhao et al. 2018) — four channels from
  *    first-week exposure masks, v(S) = converted users whose channel
  *    set ⊆ S (monotone coverage), and the Shapley sum over all 16
  *    coalitions with factorial weights held as integers (×4! = 24):
  *    w(|S|)·24 ∈ {6, 2, 2, 6}. Efficiency (Σφ = v(full)) is exact in
  *    integers and spec-pinned; the only division is the final rounded
  *    share. Completes the attribution family (q79 last-touch, q83
  *    position, q110 linear).
  *  - m28: one-level 2D Haar signature over the decoded 8×8 grayscale
  *    raster — per 2×2 block the four unnormalized subband coefficients
  *    (LL/LH/HL/HH as ±1 sums, integers), sign bits of the 48 detail
  *    coefficients packed into one BIGINT signature, near-dup cluster
  *    sizes by signature. The wavelet cousin of d23's aHash: 45 of 500
  *    docs share a signature at sf0.01. Decode runs through the real
  *    PGM codec expression; the oracle replays the raster's codepoint
  *    closed form.
  *  - q133: Kendall τ-b between per-customer order count and total
  *    spend (cents) — concordant/discordant/tie pair counts in exact
  *    integers over key-sampled customers, tie-corrected denominator
  *    through one IEEE sqrt (the q120 convention).
  *
  * Scale: q132 reduces the corpus to a 16-row coalition table before
  * any Shapley arithmetic; m28 is per-row decode inside codegen plus
  * one signature-partition window; q133's pair stage is the one
  * quadratic step (key-sampled; at population scale τ comes from a
  * distributed merge-sort inversion count instead).
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round91Queries extends QueryModule {

  // ── q132: exact Shapley-value channel attribution ─────────────────────

  def q132_shapley_attribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val ch = ev
      .select(col("user_id"), col("event_type"),
        to_date(Tables.tsMicros(ev)).as("day"))
      .groupBy(col("user_id"))
      .agg(
        coalesce(sum_distinct(
          when(col("day") < lit("2024-01-08").cast("date"),
            when(col("event_type") === "click", 1L)
              .when(col("event_type") === "view", 2L)
              .when(col("event_type") === "signup", 4L)
              .when(col("event_type") === "error", 8L).otherwise(0L))
            .otherwise(0L)), lit(0L)).as("mask"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
    val cnt = ch.filter(col("conv") === 1L)
      .groupBy(col("mask")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val coal = s.range(16).select(col("id").as("s"))
    // monotone coverage: v(S) = Σ_{mask ⊆ S} n(mask)
    val v = coal.join(cnt, expr("(mask & s) = mask"), "left")
      .groupBy(col("s")).agg(coalesce(sum(col("n")), lit(0L)).as("v"))
      .localCheckpoint(true)
    import s.implicits._
    val chans = Seq(("click", 1L), ("error", 8L), ("signup", 4L),
      ("view", 2L)).toDF("channel", "bit")
    val marg = chans
      .join(coal, expr("(s & bit) = 0"))
      .join(v.select(col("s").as("so"), col("v").as("vout")),
        col("so") === col("s"))
      .join(v.select(col("s").as("si"), col("v").as("vin")),
        expr("si = (s | bit)"))
      // |S|!·(n−1−|S|)! for n = 4: {6, 2, 2, 6} — Shapley weights ×24
      .withColumn("w24", expr(
        """CASE ((s & 1) + ((s >> 1) & 1) + ((s >> 2) & 1) + ((s >> 3) & 1))
          |  WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 WHEN 3 THEN 6
          |END""".stripMargin))
      .groupBy(col("channel"))
      .agg(sum(col("w24") * (col("vin") - col("vout"))).as("shap24"))
    val tot = v.filter(col("s") === 15L)
      .select(col("v").as("conv_total"))
    marg.crossJoin(broadcast(tot))
      .select(col("channel"), col("shap24"), col("conv_total"),
        round(col("shap24").cast("double") /
          (lit(24.0) * col("conv_total")), 6).as("shapley_share"))
      .orderBy(col("channel"))
  }

  // ── m28: one-level Haar wavelet signature + near-dup clusters ─────────

  def m28_haar_signature(s: SparkSession, dir: String): DataFrame = {
    val px = Tables.load(s, dir, "documents").select(col("doc_id"),
        ImageExprs.decodePixels(
          ImageExprs.encodeImageFromText(col("text"), "pgm", 8, 8)).as("px"))
      .select(col("doc_id"), posexplode(col("px")).as(Seq("i", "v")))
      .select(col("doc_id"), col("v").cast("long").as("v"),
        expr("i % 8").as("x"), expr("i div 8").as("y"))
    val blocks = px
      .groupBy(col("doc_id"),
        expr("(y div 2) * 4 + (x div 2)").as("blk"))
      .agg(sum(col("v")).as("ll"),
        sum(col("v") * expr("CASE WHEN x % 2 = 0 THEN 1 ELSE -1 END"))
          .as("lh"),
        sum(col("v") * expr("CASE WHEN y % 2 = 0 THEN 1 ELSE -1 END"))
          .as("hl"),
        sum(col("v") * expr("CASE WHEN (x + y) % 2 = 0 THEN 1 ELSE -1 END"))
          .as("hh"))
    val sig = blocks.groupBy(col("doc_id"))
      .agg(sum(col("ll")).as("ll_total"),
        sum(expr(
          """CASE WHEN lh > 0 THEN shiftleft(1L, CAST(3 * blk AS INT))
            |  ELSE 0L END
            |+ CASE WHEN hl > 0 THEN shiftleft(1L, CAST(3 * blk + 1 AS INT))
            |  ELSE 0L END
            |+ CASE WHEN hh > 0 THEN shiftleft(1L, CAST(3 * blk + 2 AS INT))
            |  ELSE 0L END""".stripMargin)).as("sig"))
    sig.select(col("doc_id"), col("sig"), col("ll_total"),
        count(lit(1)).over(Window.partitionBy(col("sig")))
          .as("n_same_sig"))
      .orderBy(col("doc_id"))
  }

  // ── q133: Kendall τ-b rank correlation ────────────────────────────────

  def q133_kendall_tau(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.load(s, dir, "orders").filter(col("o_custkey") % 4 === 0)
      .groupBy(col("o_custkey").as("c"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("spend_c"))
      .select(col("c"), col("n_orders"),
        col("spend_c").cast("long").as("spend_c"))
      .localCheckpoint(true)
    m.as("a").join(m.as("b"), col("a.c") < col("b.c"))
      .select(
        ((col("a.n_orders") - col("b.n_orders")) *
          (col("a.spend_c") - col("b.spend_c"))).as("prod"),
        (col("a.n_orders") === col("b.n_orders")).as("ex"),
        (col("a.spend_c") === col("b.spend_c")).as("ey"))
      .agg(
        sum(when(col("prod") > 0, 1L).otherwise(0L)).as("nc"),
        sum(when(col("prod") < 0, 1L).otherwise(0L)).as("nd"),
        sum(when(col("ex") && !col("ey"), 1L).otherwise(0L)).as("tx"),
        sum(when(col("ey") && !col("ex"), 1L).otherwise(0L)).as("ty"),
        sum(when(col("ex") && col("ey"), 1L).otherwise(0L)).as("txy"))
      .select(col("nc"), col("nd"), col("tx"), col("ty"), col("txy"),
        round((col("nc") - col("nd")).cast("double") /
          sqrt((col("nc") + col("nd") + col("tx") + col("txy"))
            .cast("double") *
            (col("nc") + col("nd") + col("ty") + col("txy"))
              .cast("double")), 6).as("tau_b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q132_shapley_attribution" -> (q132_shapley_attribution _),
    "m28_haar_signature"       -> (m28_haar_signature _),
    "q133_kendall_tau"         -> (q133_kendall_tau _))

  val oracles: Map[String, String] = Map(
    "q132_shapley_attribution" ->
      """WITH ch AS (
        |  SELECT user_id,
        |    CAST(COALESCE(SUM(DISTINCT
        |      CASE WHEN CAST(ts AS DATE) < DATE '2024-01-08'
        |        THEN CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
        |          WHEN 'signup' THEN 4 WHEN 'error' THEN 8 ELSE 0 END
        |        ELSE 0 END), 0) AS BIGINT) AS mask,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id),
        |cnt AS (
        |  SELECT mask, CAST(COUNT(*) AS BIGINT) AS n FROM ch
        |  WHERE conv = 1 GROUP BY mask),
        |coal AS (SELECT unnest(range(0, 16)) AS s),
        |v AS (
        |  SELECT c.s, CAST(COALESCE(SUM(n), 0) AS BIGINT) AS v
        |  FROM coal c LEFT JOIN cnt ON (cnt.mask & c.s) = cnt.mask
        |  GROUP BY c.s),
        |chans AS (SELECT * FROM (VALUES ('click', 1), ('view', 2),
        |  ('signup', 4), ('error', 8)) AS t(channel, bit)),
        |marg AS (
        |  SELECT ch.channel,
        |    CAST(SUM((CASE ((s.s & 1) + ((s.s >> 1) & 1) + ((s.s >> 2) & 1)
        |                   + ((s.s >> 3) & 1))
        |         WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 WHEN 3 THEN 6
        |         END)
        |      * (vin.v - vout.v)) AS BIGINT) AS shap24
        |  FROM chans ch
        |  JOIN (SELECT s FROM coal) s ON (s.s & ch.bit) = 0
        |  JOIN v vout ON vout.s = s.s
        |  JOIN v vin ON vin.s = s.s | ch.bit
        |  GROUP BY ch.channel),
        |tot AS (SELECT v AS conv_total FROM v WHERE s = 15)
        |SELECT m.channel, m.shap24, t.conv_total,
        |  ROUND(CAST(m.shap24 AS DOUBLE) / (24.0 * t.conv_total), 6)
        |    AS shapley_share
        |FROM marg m CROSS JOIN tot t ORDER BY m.channel""".stripMargin,
    "m28_haar_signature" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    ord(substr(text, CAST(((i - 1) % length(text)) + 1 AS INT), 1))
        |      % 256 AS v,
        |    (i - 1) % 8 AS x, (i - 1) // 8 AS y
        |  FROM documents CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
        |blocks AS (
        |  SELECT doc_id, (y // 2) * 4 + (x // 2) AS blk,
        |    CAST(SUM(v) AS BIGINT) AS ll,
        |    CAST(SUM(v * (CASE WHEN x % 2 = 0 THEN 1 ELSE -1 END))
        |      AS BIGINT) AS lh,
        |    CAST(SUM(v * (CASE WHEN y % 2 = 0 THEN 1 ELSE -1 END))
        |      AS BIGINT) AS hl,
        |    CAST(SUM(v * (CASE WHEN (x + y) % 2 = 0 THEN 1 ELSE -1 END))
        |      AS BIGINT) AS hh
        |  FROM px GROUP BY 1, 2),
        |sig AS (
        |  SELECT doc_id, CAST(SUM(ll) AS BIGINT) AS ll_total,
        |    CAST(SUM(
        |      (CASE WHEN lh > 0 THEN 1 ELSE 0 END) * (1::BIGINT << (3*blk))
        |    + (CASE WHEN hl > 0 THEN 1 ELSE 0 END)
        |      * (1::BIGINT << (3*blk + 1))
        |    + (CASE WHEN hh > 0 THEN 1 ELSE 0 END)
        |      * (1::BIGINT << (3*blk + 2))) AS BIGINT) AS sig
        |  FROM blocks GROUP BY doc_id)
        |SELECT s.doc_id, s.sig, s.ll_total,
        |  CAST(COUNT(*) OVER (PARTITION BY s.sig) AS BIGINT) AS n_same_sig
        |FROM sig s ORDER BY s.doc_id""".stripMargin,
    "q133_kendall_tau" ->
      """WITH m AS (
        |  SELECT o_custkey AS c, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS spend_c
        |  FROM orders WHERE o_custkey % 4 = 0 GROUP BY 1),
        |pairs AS (
        |  SELECT
        |    (a.n_orders - b.n_orders) * (a.spend_c - b.spend_c) AS prod,
        |    a.n_orders = b.n_orders AS ex, a.spend_c = b.spend_c AS ey
        |  FROM m a JOIN m b ON a.c < b.c)
        |SELECT
        |  CAST(SUM(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |  CAST(SUM(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
        |  CAST(SUM(CASE WHEN ex AND NOT ey THEN 1 ELSE 0 END) AS BIGINT)
        |    AS tx,
        |  CAST(SUM(CASE WHEN ey AND NOT ex THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ty,
        |  CAST(SUM(CASE WHEN ex AND ey THEN 1 ELSE 0 END) AS BIGINT) AS txy,
        |  ROUND((SUM(CASE WHEN prod > 0 THEN 1 ELSE 0 END)
        |         - SUM(CASE WHEN prod < 0 THEN 1 ELSE 0 END))
        |    / sqrt(CAST((SUM(CASE WHEN prod > 0 THEN 1 ELSE 0 END)
        |        + SUM(CASE WHEN prod < 0 THEN 1 ELSE 0 END)
        |        + SUM(CASE WHEN ex AND NOT ey THEN 1 ELSE 0 END)
        |        + SUM(CASE WHEN ex AND ey THEN 1 ELSE 0 END)) AS DOUBLE)
        |      * (SUM(CASE WHEN prod > 0 THEN 1 ELSE 0 END)
        |        + SUM(CASE WHEN prod < 0 THEN 1 ELSE 0 END)
        |        + SUM(CASE WHEN ey AND NOT ex THEN 1 ELSE 0 END)
        |        + SUM(CASE WHEN ex AND ey THEN 1 ELSE 0 END))), 6)
        |    AS tau_b
        |FROM pairs""".stripMargin)
}
