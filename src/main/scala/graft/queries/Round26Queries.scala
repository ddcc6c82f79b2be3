package graft.queries

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.Tables
import graft.functions.ImageExprs
import graft.operators.CountMin

/** Twenty-sixth batch — the REAL image decoder and dyadic-sketch serving:
  *
  *  - m5: per-document pixel statistics through an actual P6 PPM
  *    round-trip — each document's text becomes a real 8×8 PPM payload
  *    (ASCII header + binary raster), and `image_stats`
  *    (a codegen'd expression) parses the format back and folds the
  *    DECODED pixels into integer stats. The oracle replays the raster's
  *    closed form, so a header-skip / raster-size bug shifts every value
  *    and fails the hash. All output columns are integer-exact.
  *  - m6: the same stats through a 24-bpp BMP round-trip with width 6 —
  *    rows stride 18 bytes padded to 20, stored bottom-up in BGR order.
  *    `sum_r`/`sum_b` catch a BGR mix-up, `row0_sum` catches a missed
  *    vertical flip (per-channel sums are flip-invariant; the first
  *    decoded row is not), and `n_payload_bytes` pins the padded row
  *    stride (54 + 20·8 = 214).
  *  - a12: the dyadic Count-Min artifact SERVED — a10's sketch persisted
  *    to parquet once, then four different calendar ranges answered from
  *    the stored d×w cells alone (cover nodes are driver-side literals;
  *    the raw table is touched only for the hash-gated exact/bound
  *    flags). The dashboard deployment the dyadic sketch exists for,
  *    mirroring a11's per-day HLL serving.
  *
  * Reference scope: extension beyond the reference surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round26Queries extends QueryModule {

  // ── m5/m6: real image decode, per-doc integer pixel stats ─────────────

  private def imageStatsQuery(s: SparkSession, dir: String, format: String,
      width: Int, height: Int): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    docs
      .withColumn("payload",
        ImageExprs.encodeImageFromText(col("text"), format, width, height))
      .select(col("doc_id"),
        length(col("payload")).cast(IntegerType).as("n_payload_bytes"),
        ImageExprs.imageStats(col("payload")).as("st"))
      .select(col("doc_id"), col("n_payload_bytes"),
        col("st.width").as("width"), col("st.height").as("height"),
        col("st.n_vals").as("n_vals"),
        col("st.sum_c0").as("sum_r"), col("st.sum_c1").as("sum_g"),
        col("st.sum_c2").as("sum_b"),
        col("st.row0_sum").as("row0_sum"),
        col("st.px_min").as("px_min"), col("st.px_max").as("px_max"))
      .orderBy(col("doc_id"))
  }

  def m5_image_stats_ppm(s: SparkSession, dir: String): DataFrame =
    imageStatsQuery(s, dir, "ppm", width = 8, height = 8)

  def m6_image_stats_bmp(s: SparkSession, dir: String): DataFrame =
    imageStatsQuery(s, dir, "bmp", width = 6, height = 8)

  // ── a12: dyadic CM sketch persisted once, many ranges served ──────────

  private val CmW = 1024

  private def epochDay(d: String): Long = LocalDate.parse(d).toEpochDay

  /** (range_id, lo, hi) in epoch days, [lo, hi): a month, a half-year, a
    * year, a five-year span — different cover-node counts exercise the
    * greedy dyadic decomposition at several granularities — plus one
    * range BEFORE the data (this testdata's shipdates start 1995-01):
    * a served dashboard must return empty ranges as rows (exact 0,
    * estimate = whatever collision noise the sketch carries), not drop
    * them. */
  private val Ranges: Seq[(String, Long, Long)] = Seq(
    ("m_1997_03", epochDay("1997-03-01"), epochDay("1997-04-01")),
    ("h1_1996", epochDay("1996-01-01"), epochDay("1996-07-01")),
    ("y_1998", epochDay("1998-01-01"), epochDay("1999-01-01")),
    ("y_1995_99", epochDay("1995-01-01"), epochDay("2000-01-01")),
    ("y_1993_empty", epochDay("1993-01-01"), epochDay("1994-01-01")))

  private def shipDays(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .select(expr(
        "cast(datediff(cast(l_shipdate as date), date'1970-01-01') as bigint)")
        .as("k"))

  private val cmsBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The dyadic sketch artifact builds once per deployment (the daily
    * rollup job), not per dashboard query — memoized like s7's IVF index
    * and surfaced through `prebuildArtifacts`' artifact_build_sec. */
  private[queries] def cmsArtifactDir(s: SparkSession, dir: String): String =
    cmsBuilt.computeIfAbsent(dir, _ => {
      val out = graft.Scratch.dir("a12_dyadic_cms", dir)
      graft.sinks.ParquetSink.write(
        CountMin.dyadicSketch(shipDays(s, dir), CountMin.DefaultFamily, CmW),
        out)
      out
    })

  def a12_cms_range_serving(s: SparkSession, dir: String): DataFrame = {
    import CountMin._
    val days = shipDays(s, dir)
    val cells = s.read.parquet(cmsArtifactDir(s, dir))

    val est = rangeEstimates(cells, DefaultFamily, CmW, Ranges)

    import s.implicits._
    val rangeDf = Ranges.map { case (id, lo, hi) =>
      (id, lo, hi, dyadicCover(lo, hi).size.toLong)
    }.toDF("range_id", "lo", "hi", "n_nodes")
    // inner theta-join for the scan, then re-attach against the range
    // table so EMPTY ranges survive as exact_range = 0 (both joins after
    // the aggregate are tiny-×-tiny)
    val exactHits = days
      .join(broadcast(rangeDf),
        col("k") >= col("lo") && col("k") < col("hi"))
      .groupBy(col("range_id"))
      .agg(count(lit(1)).as("hits"))
    val exact = rangeDf.join(exactHits, Seq("range_id"), "left")
      .select(col("range_id"), col("n_nodes"),
        coalesce(col("hits"), lit(0L)).as("exact_range"))
    val n = days.agg(count(lit(1)).as("n_rows"))

    est.join(exact, Seq("range_id")).crossJoin(n)
      .select(col("range_id"), col("cm_range_est"), col("exact_range"),
        (col("cm_range_est") >= col("exact_range")).as("never_undercounts"),
        (col("cm_range_est") <= col("exact_range") +
          expr(s"(n_nodes * 78 * n_rows) div $CmW")).as("within_bound"))
      .orderBy(col("range_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m5_image_stats_ppm"    -> (m5_image_stats_ppm _),
    "m6_image_stats_bmp"    -> (m6_image_stats_bmp _),
    "a12_cms_range_serving" -> (a12_cms_range_serving _))

  /** Closed-form raster replay shared by the m5/m6 oracles: decoded
    * sample i = ord(text[i mod len]) mod 256 — per-channel sums step by
    * the channel stride, row0 covers the first width·3 samples. */
  private def imageStatsSql(width: Int, height: Int,
      payloadBytes: Int): String = {
    val n = width * height * 3
    def stepSum(start: Int, step: Int, stop: Int): String =
      s"""CAST(list_sum(list_transform(range($start, $stop, $step),
         |    i -> ord(substr(text, CAST((i % length(text)) + 1 AS INT), 1)) % 256)) AS BIGINT)""".stripMargin
    s"""SELECT doc_id,
       |  CAST($payloadBytes AS INT) AS n_payload_bytes,
       |  CAST($width AS INT) AS width, CAST($height AS INT) AS height,
       |  CAST($n AS BIGINT) AS n_vals,
       |  ${stepSum(0, 3, n)} AS sum_r,
       |  ${stepSum(1, 3, n)} AS sum_g,
       |  ${stepSum(2, 3, n)} AS sum_b,
       |  ${stepSum(0, 1, width * 3)} AS row0_sum,
       |  CAST(list_min(list_transform(range(0, $n),
       |    i -> ord(substr(text, CAST((i % length(text)) + 1 AS INT), 1)) % 256)) AS INT) AS px_min,
       |  CAST(list_max(list_transform(range(0, $n),
       |    i -> ord(substr(text, CAST((i % length(text)) + 1 AS INT), 1)) % 256)) AS INT) AS px_max
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  private val cmFam =
    "fam(i, a, b) AS (VALUES (0, 1299709, 104729), (1, 15485863, 1999)," +
      " (2, 32452843, 777767))"

  private val lvlRows: String =
    (0 until CountMin.DyadicLevels).map(l => s"($l, ${1L << l})")
      .mkString(", ")

  /** Every range's cover nodes as (range_id, composite-key) literals —
    * the same Scala cover function feeds both engines. */
  private val nodeRows: String =
    Ranges.flatMap { case (id, lo, hi) =>
      CountMin.dyadicCover(lo, hi).map { case (l, idx) =>
        s"('$id', ${CountMin.dyadicKey(l, idx)})"
      }
    }.mkString(", ")

  private val rangeRows: String =
    Ranges.map { case (id, lo, hi) =>
      s"('$id', $lo, $hi, ${CountMin.dyadicCover(lo, hi).size})"
    }.mkString(", ")

  val oracles: Map[String, String] = Map(
    "m5_image_stats_ppm" ->
      imageStatsSql(width = 8, height = 8, payloadBytes = 11 + 192),
    "m6_image_stats_bmp" ->
      imageStatsSql(width = 6, height = 8, payloadBytes = 54 + 20 * 8),
    "a12_cms_range_serving" ->
      s"""WITH $cmFam,
        |days AS (
        |  SELECT CAST(datediff('day', DATE '1970-01-01',
        |    CAST(l_shipdate AS DATE)) AS BIGINT) AS k
        |  FROM lineitem),
        |lvl(l, p) AS (VALUES $lvlRows),
        |comp AS (
        |  SELECT (d.k // lvl.p) * 16 + lvl.l AS k
        |  FROM days d CROSS JOIN lvl),
        |cells AS (
        |  SELECT fam.i,
        |    ${SketchSql.bucket("comp.k", "fam.a", "fam.b", CmW)} AS b,
        |    COUNT(*) AS cnt
        |  FROM comp CROSS JOIN fam GROUP BY 1, 2),
        |nodes(range_id, k) AS (VALUES $nodeRows),
        |pts AS (
        |  SELECT nodes.range_id, nodes.k, MIN(COALESCE(cells.cnt, 0)) AS est
        |  FROM nodes CROSS JOIN fam
        |  LEFT JOIN cells ON cells.i = fam.i AND cells.b =
        |    ${SketchSql.bucket("nodes.k", "fam.a", "fam.b", CmW)}
        |  GROUP BY 1, 2),
        |est AS (SELECT range_id, CAST(SUM(est) AS BIGINT) AS cm_range_est
        |  FROM pts GROUP BY 1),
        |rng(range_id, lo, hi, n_nodes) AS (VALUES $rangeRows),
        |ex AS (
        |  SELECT rng.range_id, rng.n_nodes,
        |    CAST(COUNT(d.k) AS BIGINT) AS exact_range
        |  FROM rng LEFT JOIN days d ON d.k >= rng.lo AND d.k < rng.hi
        |  GROUP BY 1, 2),
        |nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM days)
        |SELECT est.range_id, est.cm_range_est, ex.exact_range,
        |  est.cm_range_est >= ex.exact_range AS never_undercounts,
        |  est.cm_range_est <= ex.exact_range +
        |    (ex.n_nodes * 78 * nr.n_rows) // $CmW AS within_bound
        |FROM est JOIN ex USING (range_id) CROSS JOIN nr
        |ORDER BY range_id""".stripMargin)
}
