package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.Tables
import graft.functions.ImageExprs

/** Eightieth batch — stylometry, a categorical independence test, and
  * tiled raster processing:
  *
  *  - t45: Burrows' Delta — the classic stylometric distance (mean |Δz|
  *    of per-source term-frequency z-scores), the attribution tool for
  *    "which sources write alike" (and, in a training corpus, which
  *    scraped sources are the same upstream site). Float discipline:
  *    relative frequencies are INTEGER ppm (tf·10⁶ div total), σ =
  *    sqrt(n·Σx²−(Σx)²)/n over those integers (IEEE sqrt is exactly
  *    rounded → bit-identical across engines), z-differences summed
  *    through the round-12/DECIMAL(28,12) order-free path, ranking on
  *    the 6-decimal rounding.
  *  - q119: χ² test of independence (event_type ⟂ day-of-week) in
  *    EXACT integer arithmetic — day-of-week as datediff mod 7 (no
  *    locale surface), each cell's (O·n − rt·ct)²·10⁶ div (rt·ct·n)
  *    computed in DECIMAL(38,0)/HUGEINT (the squared numerator tops
  *    10²² — past BIGINT), summed to chi2_ppm and compared against the
  *    dof=24, α=0.01 critical value. The everyday "is this drift or
  *    noise" gate for categorical monitors.
  *  - m25: tiled raster statistics — the decoded 8×8 RGB raster split
  *    into four 4×4 quadrant tiles (posexplode over decode_pixels;
  *    tile = (y div 4)·2 + x div 4), per-tile integer sum/min/max.
  *    Tiling is the patch-processing layout ViT-style pipelines use;
  *    here it is one explode + one aggregate, oracle-replayed from the
  *    codepoint closed form.
  *
  * Reference scope: beyond-reference LLM-pipeline + analytics surface
  * (the reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round80Queries extends QueryModule {

  // ── t45: Burrows' Delta between sources ───────────────────────────────

  def t45_burrows_delta(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val docs = Tables.load(s, dir, "documents")
    val tok = docs.select(col("source"),
      explode(Text.tokens(lower(col("text")))).as("term"))
    val tot = tok.groupBy(col("source")).agg(count(lit(1)).as("n_tok"))
    val tf = tok.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val f = tf.join(tot, "source")
      .select(col("source"), col("term"),
        expr("(tf * 1000000) div n_tok").as("f_ppm"))
    val grid = docs.select(col("source")).distinct()
      .crossJoin(tf.select(col("term")).distinct())
      .join(f, Seq("source", "term"), "left")
      .select(col("source"), col("term"),
        coalesce(col("f_ppm"), lit(0L)).as("f_ppm"))
      .localCheckpoint()
    val sig = grid.groupBy(col("term"))
      .agg(count(lit(1)).as("n"), sum(col("f_ppm")).as("sx"),
        sum(col("f_ppm") * col("f_ppm")).as("sxx"))
      .filter(col("n") * col("sxx") - col("sx") * col("sx") > 0)
      .select(col("term"), col("n"), col("sx"),
        (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
          .cast(DoubleType)) / col("n")).as("sigma"))
    val z = grid.join(broadcast(sig), "term")
      .select(col("source"), col("term"),
        ((col("f_ppm").cast(DoubleType) -
          col("sx").cast(DoubleType) / col("n")) / col("sigma")).as("z"))
    val pairs = z.as("a").join(z.as("b"),
        col("a.term") === col("b.term") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg((sum(round(abs(col("a.z") - col("b.z")), 12)
        .cast(DecimalType(28, 12))).cast(DoubleType) / count(lit(1)))
        .as("delta0"))
      .select(col("src_a"), col("src_b"), round(col("delta0"), 6).as("delta"))
    pairs.orderBy(col("delta"), col("src_a"), col("src_b")).limit(10)
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("delta"), col("src_a"), col("src_b")))
        .cast(LongType))
      .orderBy(col("rk"))
  }

  // ── q119: χ² independence, exact DECIMAL(38,0) scaling ────────────────

  def q119_chi2_independence(s: SparkSession, dir: String): DataFrame = {
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
    // DECIMAL(38,0) end to end: the squared numerator tops 10^22 (past
    // BIGINT); `div` (IntegralDivide) truncates, matching DuckDB's `//`
    // on HUGEINT for these all-positive terms
    val terms = o.join(broadcast(rt), "dow").join(broadcast(ct), "et")
      .crossJoin(broadcast(n))
      .select(expr(
        "(CAST(obs AS DECIMAL(38,0)) * n - CAST(rtot AS DECIMAL(38,0)) * ctot)" +
          " * (CAST(obs AS DECIMAL(38,0)) * n - CAST(rtot AS DECIMAL(38,0)) * ctot)" +
          " * 1000000" +
          " div (CAST(rtot AS DECIMAL(38,0)) * ctot * n)").as("term_ppm"))
    terms.agg(sum(col("term_ppm")).as("chi2_ppm"))
      .select(col("chi2_ppm"), lit(24L).as("dof"),
        (col("chi2_ppm") > 42979800L).as("reject_99"))
  }

  // ── m25: quadrant tile stats over the decoded raster ──────────────────

  def m25_image_tiles(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(col("doc_id"),
        ImageExprs.decodePixels(
          ImageExprs.encodeImageFromText(col("text"), "png", 8, 8)).as("px"))
      .select(col("doc_id"), posexplode(col("px")).as(Seq("i", "v")))
      .select(col("doc_id"), col("v"),
        expr("(((i div 3) div 8) div 4) * 2 + ((i div 3) % 8) div 4")
          .cast(LongType).as("tile"))
      .groupBy(col("doc_id"), col("tile"))
      .agg(sum(col("v")).as("tile_sum"),
        min(col("v")).as("tile_min"), max(col("v")).as("tile_max"))
      .orderBy(col("doc_id"), col("tile"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t45_burrows_delta"       -> (t45_burrows_delta _),
    "q119_chi2_independence"  -> (q119_chi2_independence _),
    "m25_image_tiles"         -> (m25_image_tiles _))

  val oracles: Map[String, String] = Map(
    "t45_burrows_delta" ->
      raw"""WITH tok AS (
        |  SELECT source,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tok
        |  FROM tok GROUP BY 1),
        |tf AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY 1, 2),
        |f AS (
        |  SELECT t.source, t.term, (t.tf * 1000000) // tot.n_tok AS f_ppm
        |  FROM tf t JOIN tot ON tot.source = t.source),
        |grid AS (
        |  SELECT s.source, te.term, COALESCE(f.f_ppm, 0) AS f_ppm
        |  FROM (SELECT DISTINCT source FROM documents) s
        |  CROSS JOIN (SELECT DISTINCT term FROM tf) te
        |  LEFT JOIN f ON f.source = s.source AND f.term = te.term),
        |st AS (
        |  SELECT term, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(f_ppm) AS BIGINT) AS sx,
        |    CAST(SUM(f_ppm * f_ppm) AS BIGINT) AS sxx
        |  FROM grid GROUP BY 1),
        |sig AS (
        |  SELECT term, n, sx,
        |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) / n AS sigma
        |  FROM st WHERE n * sxx - sx * sx > 0),
        |z AS (
        |  SELECT g.source, g.term,
        |    (CAST(g.f_ppm AS DOUBLE) - CAST(s.sx AS DOUBLE) / s.n)
        |      / s.sigma AS z
        |  FROM grid g JOIN sig s USING (term)),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    ROUND(CAST(SUM(CAST(ROUND(abs(a.z - b.z), 12)
        |      AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS delta
        |  FROM z a JOIN z b ON a.term = b.term AND a.source < b.source
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT src_a, src_b, delta,
        |    ROW_NUMBER() OVER (ORDER BY delta, src_a, src_b) AS rk
        |  FROM pairs)
        |SELECT src_a, src_b, delta, CAST(rk AS BIGINT) AS rk
        |FROM ranked WHERE rk <= 10 ORDER BY rk""".stripMargin,
    "q119_chi2_independence" ->
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
        |terms AS (
        |  SELECT
        |    (CAST(o.obs AS HUGEINT) * n.n - CAST(rt.rtot AS HUGEINT)
        |      * ct.ctot)
        |    * (CAST(o.obs AS HUGEINT) * n.n - CAST(rt.rtot AS HUGEINT)
        |      * ct.ctot)
        |    * 1000000
        |    // (CAST(rt.rtot AS HUGEINT) * ct.ctot * n.n) AS term_ppm
        |  FROM o JOIN rt USING (dow) JOIN ct USING (et) CROSS JOIN n)
        |SELECT CAST(SUM(term_ppm) AS BIGINT) AS chi2_ppm,
        |  CAST(24 AS BIGINT) AS dof,
        |  CAST(SUM(term_ppm) AS BIGINT) > 42979800 AS reject_99
        |FROM terms""".stripMargin,
    "m25_image_tiles" ->
      """WITH px AS (
        |  SELECT doc_id,
        |    ord(substr(text, CAST(((i - 1) % length(text)) + 1 AS INT), 1))
        |      % 256 AS v,
        |    ((((i - 1) // 3) // 8) // 4) * 2 + (((i - 1) // 3) % 8) // 4
        |      AS tile
        |  FROM documents CROSS JOIN (SELECT unnest(range(1, 193)) AS i))
        |SELECT doc_id, CAST(tile AS BIGINT) AS tile,
        |  CAST(SUM(v) AS BIGINT) AS tile_sum,
        |  CAST(MIN(v) AS INT) AS tile_min,
        |  CAST(MAX(v) AS INT) AS tile_max
        |FROM px GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
