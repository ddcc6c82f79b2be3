package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ImageExprs

/** Ninety-third batch — sequence-pattern analytics, sequential testing,
  * and the integral-image primitive:
  *
  *  - q134: MATCH_RECOGNIZE-style event-pattern census — each user-day
  *    becomes one type-character string (deterministic
  *    `string_agg ORDER BY ts, event_id`), then regex counting answers
  *    the pattern questions (view→purchase funnels `v[ce]*p`, click
  *    bursts `cc+`, day-opening views, errors). Non-overlapping
  *    left-to-right scan semantics agree across engines for these
  *    backreference-free patterns.
  *  - q135: Wald's sequential probability ratio test per user —
  *    purchase-vs-view Bernoulli walk with the log-likelihood
  *    increments embedded as exact micro-nat literals (±200671 for
  *    p₁=0.55 vs p₀=0.45; bounds ±ln 4·10⁶ for α=β=0.2, so every
  *    decision class actually fires: 29 accept-H1 / 22 accept-H0 / 99
  *    continue at sf0.01). First-crossing semantics via windowed
  *    cumulative sums — all integers, no float accumulation.
  *  - m30: integral image (summed-area table) over the decoded 8×8
  *    raster — 2D prefix sums via two cascaded windows, then four O(1)
  *    corner-formula box sums per document, each verified in-row
  *    against the directly-aggregated box (the `agree` flag and both
  *    sums are hash-gated).
  *
  * Scale: q134 reduces each user-day to one bounded string; q135 is
  * per-user windows (no global sort); m30's windows partition per
  * document row/column — the SAT is the classic O(1)-query primitive
  * for box statistics over tiled rasters.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round93Queries extends QueryModule {

  // ── q134: event-sequence regex census ─────────────────────────────────

  def q134_event_regex(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val seq = ev
      .select(col("user_id"), to_date(Tables.tsMicros(ev)).as("day"),
        unix_micros(Tables.tsMicros(ev)).as("us"), col("event_id"),
        expr("""CASE event_type WHEN 'click' THEN 'c' WHEN 'view' THEN 'v'
          | WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
          | ELSE 'e' END""".stripMargin).as("ch"))
      .groupBy(col("user_id"), col("day"))
      .agg(expr("array_join(transform(array_sort(collect_list(" +
        "struct(us, event_id, ch))), x -> x.ch), '')").as("str"))
    seq.agg(
      sum(length(col("str"))).as("total_events"),
      sum(size(expr("regexp_extract_all(str, 'v[ce]*p', 0)")))
        .cast("long").as("view_to_purchase"),
      sum(size(expr("regexp_extract_all(str, 'cc+', 0)"))).cast("long")
        .as("click_bursts"),
      sum(when(expr("str RLIKE '^v'"), 1L).otherwise(0L))
        .as("days_open_view"),
      sum(size(expr("regexp_extract_all(str, 'e', 0)"))).cast("long")
        .as("errors"))
  }

  // ── q135: per-user SPRT census ────────────────────────────────────────

  // ln(0.55/0.45)·10⁶ and ln 4·10⁶ — exact literals shared with the oracle
  private val LlrStep = 200671L
  private val Bound = 1386294L

  def q135_sprt(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(s, dir, "events")
    val obs = ev.filter(col("event_type").isin("purchase", "view"))
      .select(col("user_id"), col("event_id"),
        unix_micros(Tables.tsMicros(ev)).as("us"),
        when(col("event_type") === "purchase", LlrStep)
          .otherwise(-LlrStep).as("llr"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val walk = obs
      .withColumn("cum", sum(col("llr")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", row_number().over(w))
    val cr = walk.groupBy(col("user_id"))
      .agg(min(when(col("cum") >= Bound, col("n"))).as("hi"),
        min(when(col("cum") <= -Bound, col("n"))).as("lo"),
        max(col("n")).as("n_obs"),
        max_by(col("cum"), col("n")).as("final_llr"))
    cr.select(
        when(col("hi").isNotNull &&
          (col("lo").isNull || col("hi") < col("lo")), "accept_h1")
          .when(col("lo").isNotNull, "accept_h0")
          .otherwise("continue").as("decision"),
        col("n_obs"), col("final_llr"))
      .groupBy(col("decision"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_obs")).as("total_obs"),
        sum(col("final_llr")).as("sum_final_llr"))
      .orderBy(col("decision"))
  }

  // ── m30: integral image + O(1) box sums vs direct aggregation ─────────

  def m30_integral_image(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val px = Tables.load(s, dir, "documents").select(col("doc_id"),
        ImageExprs.decodePixels(
          ImageExprs.encodeImageFromText(col("text"), "pgm", 8, 8)).as("px"))
      .select(col("doc_id"), posexplode(col("px")).as(Seq("i", "v")))
      .select(col("doc_id"), col("v").cast("long").as("v"),
        expr("i % 8").as("x"), expr("i div 8").as("y"))
      .localCheckpoint(true)
    val rowPrefix = px.withColumn("rp",
      sum(col("v")).over(Window.partitionBy(col("doc_id"), col("y"))
        .orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val sat = rowPrefix.withColumn("sat",
      sum(col("rp")).over(Window.partitionBy(col("doc_id"), col("x"))
        .orderBy(col("y"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("doc_id"), col("x"), col("y"), col("sat"))
      .localCheckpoint(true)
    import s.implicits._
    val boxes = Seq((0L, 0, 0, 3, 3), (1L, 4, 0, 7, 3), (2L, 0, 4, 3, 7),
      (3L, 2, 2, 5, 5)).toDF("box", "x1", "y1", "x2", "y2")
    def corner(xc: String, yc: String) =
      coalesce(col(s"s_${xc}_$yc"), lit(0L))
    // gather the four SAT corners by join (missing corner = 0 off-grid)
    def joinCorner(df: DataFrame, xe: String, ye: String,
        alias: String): DataFrame =
      df.join(sat.select(col("doc_id").as(s"d_$alias"),
          col("x").as(s"x_$alias"), col("y").as(s"y_$alias"),
          col("sat").as(s"s_$alias")),
        col("doc_id") === col(s"d_$alias") &&
          expr(s"$xe") === col(s"x_$alias") &&
          expr(s"$ye") === col(s"y_$alias"), "left")
        .drop(s"d_$alias", s"x_$alias", s"y_$alias")
    val withCorners = joinCorner(joinCorner(joinCorner(joinCorner(
        px.select(col("doc_id")).distinct().crossJoin(broadcast(boxes)),
        "x2", "y2", "br"), "x1 - 1", "y2", "bl"),
        "x2", "y1 - 1", "tr"), "x1 - 1", "y1 - 1", "tl")
      .withColumn("sat_sum",
        coalesce(col("s_br"), lit(0L)) - coalesce(col("s_bl"), lit(0L)) -
          coalesce(col("s_tr"), lit(0L)) + coalesce(col("s_tl"), lit(0L)))
    val direct = px.crossJoin(broadcast(boxes))
      .filter(col("x") >= col("x1") && col("x") <= col("x2") &&
        col("y") >= col("y1") && col("y") <= col("y2"))
      .groupBy(col("doc_id"), col("box"))
      .agg(sum(col("v")).as("direct_sum"))
    withCorners.join(direct, Seq("doc_id", "box"))
      .select(col("doc_id"), col("box"), col("sat_sum"), col("direct_sum"),
        (col("sat_sum") === col("direct_sum")).as("agree"))
      .orderBy(col("doc_id"), col("box"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q134_event_regex"   -> (q134_event_regex _),
    "q135_sprt"          -> (q135_sprt _),
    "m30_integral_image" -> (m30_integral_image _))

  val oracles: Map[String, String] = Map(
    "q134_event_regex" ->
      """WITH seq AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    string_agg(CASE event_type WHEN 'click' THEN 'c'
        |      WHEN 'view' THEN 'v' WHEN 'purchase' THEN 'p'
        |      WHEN 'signup' THEN 's' ELSE 'e' END, ''
        |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS str
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(SUM(length(str)) AS BIGINT) AS total_events,
        |  CAST(SUM(len(regexp_extract_all(str, 'v[ce]*p'))) AS BIGINT)
        |    AS view_to_purchase,
        |  CAST(SUM(len(regexp_extract_all(str, 'cc+'))) AS BIGINT)
        |    AS click_bursts,
        |  CAST(SUM(CASE WHEN regexp_matches(str, '^v') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS days_open_view,
        |  CAST(SUM(len(regexp_extract_all(str, 'e'))) AS BIGINT) AS errors
        |FROM seq""".stripMargin,
    "q135_sprt" ->
      s"""WITH obs AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CASE WHEN event_type = 'purchase' THEN $LlrStep
        |      ELSE -$LlrStep END AS llr
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |walk AS (
        |  SELECT user_id,
        |    SUM(llr) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS n
        |  FROM obs),
        |cr AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN cum >= $Bound THEN n END) AS hi,
        |    MIN(CASE WHEN cum <= -$Bound THEN n END) AS lo,
        |    MAX(n) AS n_obs, arg_max(cum, n) AS final_llr
        |  FROM walk GROUP BY user_id)
        |SELECT CASE
        |    WHEN hi IS NOT NULL AND (lo IS NULL OR hi < lo)
        |      THEN 'accept_h1'
        |    WHEN lo IS NOT NULL THEN 'accept_h0'
        |    ELSE 'continue' END AS decision,
        |  CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(n_obs) AS BIGINT) AS total_obs,
        |  CAST(SUM(final_llr) AS BIGINT) AS sum_final_llr
        |FROM cr GROUP BY 1 ORDER BY 1""".stripMargin,
    "m30_integral_image" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    ord(substr(text, CAST(((i - 1) % length(text)) + 1 AS INT), 1))
        |      % 256 AS v,
        |    (i - 1) % 8 AS x, (i - 1) // 8 AS y
        |  FROM documents CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
        |rp AS (
        |  SELECT doc_id, x, y,
        |    SUM(v) OVER (PARTITION BY doc_id, y ORDER BY x
        |      ROWS UNBOUNDED PRECEDING) AS rp
        |  FROM px),
        |sat AS (
        |  SELECT doc_id, x, y,
        |    CAST(SUM(rp) OVER (PARTITION BY doc_id, x ORDER BY y
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sat
        |  FROM rp),
        |boxes AS (SELECT * FROM (VALUES (0, 0, 0, 3, 3), (1, 4, 0, 7, 3),
        |  (2, 0, 4, 3, 7), (3, 2, 2, 5, 5)) AS t(box, x1, y1, x2, y2)),
        |docs AS (SELECT DISTINCT doc_id FROM px),
        |satq AS (
        |  SELECT d.doc_id, b.box,
        |    COALESCE(br.sat, 0) - COALESCE(bl.sat, 0)
        |      - COALESCE(tr.sat, 0) + COALESCE(tl.sat, 0) AS sat_sum
        |  FROM docs d CROSS JOIN boxes b
        |  LEFT JOIN sat br ON br.doc_id = d.doc_id AND br.x = b.x2
        |    AND br.y = b.y2
        |  LEFT JOIN sat bl ON bl.doc_id = d.doc_id AND bl.x = b.x1 - 1
        |    AND bl.y = b.y2
        |  LEFT JOIN sat tr ON tr.doc_id = d.doc_id AND tr.x = b.x2
        |    AND tr.y = b.y1 - 1
        |  LEFT JOIN sat tl ON tl.doc_id = d.doc_id AND tl.x = b.x1 - 1
        |    AND tl.y = b.y1 - 1),
        |direct AS (
        |  SELECT p.doc_id, b.box, CAST(SUM(p.v) AS BIGINT) AS direct_sum
        |  FROM px p JOIN boxes b ON p.x BETWEEN b.x1 AND b.x2
        |    AND p.y BETWEEN b.y1 AND b.y2
        |  GROUP BY 1, 2)
        |SELECT s.doc_id, CAST(s.box AS BIGINT) AS box,
        |  CAST(s.sat_sum AS BIGINT) AS sat_sum, d.direct_sum,
        |  s.sat_sum = d.direct_sum AS agree
        |FROM satq s JOIN direct d ON s.doc_id = d.doc_id AND s.box = d.box
        |ORDER BY s.doc_id, s.box""".stripMargin)
}
