package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.VideoExprs
import SketchSql.textByte

/** Thirty-sixth batch — sketch differencing and temporal video signal:
  *
  *  - a14: heavy CHANGERS between two periods from two Count-Min
  *    sketches (Cormode–Muthukrishnan 2005 §4.2's difference trick):
  *    rank catalog items by the estimated count delta week-4 − week-1,
  *    computed entirely from two d·w-cell sketches — the "what moved?"
  *    question answered without re-scanning either period. Exact deltas
  *    anchor every row; the per-side no-undercount guarantee rides
  *    along as a flag (a3's contract).
  *  - m13: scene-cut detection over REAL decoded Y4M frames — the
  *    mean-absolute-frame-difference (MAFD) series per consecutive
  *    frame pair, the shot-boundary / temporal-redundancy feature a
  *    video training pipeline samples frames by. Per-pixel |Δluma|
  *    sums are exact integers the oracle replays from the text-raster
  *    closed form.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round36Queries extends QueryModule {

  // ── a14: item = props.k (the bounded catalog 0..127); sketches are
  //        w=64, d=3 — 192 cells per period regardless of event volume.
  //        The probe enumerates the catalog (the heavy-changer search
  //        for unbounded domains would run on the dyadic sketch a10
  //        carries). Top 10 by |estimated delta|. ──────────────────────
  def a14_cms_heavy_changers(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val raw = Tables.load(s, dir, "events")
    val ev = raw.select(
      get_json_object(col("props"), "$.k").cast(LongType).as("k"),
      to_date(Tables.tsMicros(raw)).as("day"))
    def period(lo: String, hi: String): DataFrame = ev
      .filter(col("day") >= to_date(lit(lo)) && col("day") <= to_date(lit(hi)))
      .select(col("k"))
    val w1 = period("2024-01-01", "2024-01-07").localCheckpoint()
    val w4 = period("2024-01-22", "2024-01-28").localCheckpoint()
    val cm1 = CountMin.sketch(w1, CountMin.DefaultFamily, w = 64)
    val cm4 = CountMin.sketch(w4, CountMin.DefaultFamily, w = 64)
    val probe = s.range(128).select(col("id").as("k"))
    val est1 = CountMin.estimate(probe, cm1, CountMin.DefaultFamily, w = 64)
      .withColumnRenamed("cm_est", "est_w1")
    val est4 = CountMin.estimate(probe, cm4, CountMin.DefaultFamily, w = 64)
      .withColumnRenamed("cm_est", "est_w4")
    def exact(p: DataFrame, name: String): DataFrame =
      p.groupBy(col("k")).agg(count(lit(1)).as(name))
    val joined = est1.join(est4, "k")
      .join(exact(w1, "exact_w1"), Seq("k"), "left")
      .join(exact(w4, "exact_w4"), Seq("k"), "left")
      .select(col("k"), col("est_w1"), col("est_w4"),
        (col("est_w4") - col("est_w1")).as("diff_est"),
        coalesce(col("exact_w1"), lit(0L)).as("exact_w1"),
        coalesce(col("exact_w4"), lit(0L)).as("exact_w4"))
      .withColumn("diff_exact", col("exact_w4") - col("exact_w1"))
      .withColumn("bounds_ok",
        col("est_w1") >= col("exact_w1") && col("est_w4") >= col("exact_w4"))
    joined
      .withColumn("rank", row_number().over(
          Window.orderBy(abs(col("diff_est")).desc, col("k")))
        .cast(LongType))
      .filter(col("rank") <= 10)
      .orderBy(col("rank"))
  }

  private val W = 8; private val H = 8; private val NFrames = 4
  private val FrameSize = W * H + 2 * (W / 2) * (H / 2) // 96
  private val YSize = W * H // 64

  // ── m13: decode the 4-frame Y4M payload, emit the 3-entry MAFD
  //        series; a pair is a CUT when its mean |Δluma| ≥ 80 (of 255).
  //        One codegen'd decode per document; the explode is 3 rows. ────
  def m13_scene_cuts(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(col("doc_id"),
        VideoExprs.frameYDeltas(
          when(col("doc_id") % 2 === 0,
            VideoExprs.encodeY4mFromText(col("text"), W, H, NFrames,
              omitC = true))
          .otherwise(VideoExprs.encodeY4mFromText(col("text"), W, H,
            NFrames, omitC = false))).as("deltas"))
      .select(col("doc_id"),
        posexplode(col("deltas")).as(Seq("pair_idx", "delta")))
      .select(col("doc_id"),
        (col("pair_idx") + 1).cast(IntegerType).as("frame_idx"),
        col("delta"),
        expr("delta div 64").as("mad"))
      .withColumn("is_cut", col("mad") >= 80)
      .orderBy(col("doc_id"), col("frame_idx"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a14_cms_heavy_changers" -> (a14_cms_heavy_changers _),
    "m13_scene_cuts"         -> (m13_scene_cuts _))

  val oracles: Map[String, String] = Map(
    "a14_cms_heavy_changers" ->
      s"""WITH ev AS (
        |  SELECT CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events),
        |k1 AS (SELECT k FROM ev
        |  WHERE day BETWEEN DATE '2024-01-01' AND DATE '2024-01-07'),
        |k4 AS (SELECT k FROM ev
        |  WHERE day BETWEEN DATE '2024-01-22' AND DATE '2024-01-28'),
        |fam(i, a, b) AS (VALUES (0, 1299709, 104729),
        |                        (1, 15485863, 1999),
        |                        (2, 32452843, 777767)),
        |c1 AS (
        |  SELECT fam.i, ${SketchSql.bucket("k1.k", "fam.a", "fam.b", 64)}
        |    AS b, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM k1 CROSS JOIN fam GROUP BY 1, 2),
        |c4 AS (
        |  SELECT fam.i, ${SketchSql.bucket("k4.k", "fam.a", "fam.b", 64)}
        |    AS b, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM k4 CROSS JOIN fam GROUP BY 1, 2),
        |probe AS (SELECT r.range AS k FROM range(0, 128) r),
        |e1 AS (
        |  SELECT p.k, MIN(COALESCE(c1.cnt, 0)) AS est_w1
        |  FROM probe p CROSS JOIN fam
        |  LEFT JOIN c1 ON c1.i = fam.i
        |    AND c1.b = ${SketchSql.bucket("p.k", "fam.a", "fam.b", 64)}
        |  GROUP BY p.k),
        |e4 AS (
        |  SELECT p.k, MIN(COALESCE(c4.cnt, 0)) AS est_w4
        |  FROM probe p CROSS JOIN fam
        |  LEFT JOIN c4 ON c4.i = fam.i
        |    AND c4.b = ${SketchSql.bucket("p.k", "fam.a", "fam.b", 64)}
        |  GROUP BY p.k),
        |x1 AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS exact_w1 FROM k1
        |       GROUP BY 1),
        |x4 AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS exact_w4 FROM k4
        |       GROUP BY 1),
        |j AS (
        |  SELECT e1.k, e1.est_w1, e4.est_w4,
        |    e4.est_w4 - e1.est_w1 AS diff_est,
        |    COALESCE(x1.exact_w1, 0) AS exact_w1,
        |    COALESCE(x4.exact_w4, 0) AS exact_w4,
        |    COALESCE(x4.exact_w4, 0) - COALESCE(x1.exact_w1, 0)
        |      AS diff_exact,
        |    e1.est_w1 >= COALESCE(x1.exact_w1, 0)
        |      AND e4.est_w4 >= COALESCE(x4.exact_w4, 0) AS bounds_ok
        |  FROM e1 JOIN e4 USING (k)
        |  LEFT JOIN x1 ON x1.k = e1.k LEFT JOIN x4 ON x4.k = e1.k),
        |rk AS (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(diff_est) DESC, k)
        |    AS rank
        |  FROM j)
        |SELECT k, est_w1, est_w4, diff_est, exact_w1, exact_w4,
        |  diff_exact, bounds_ok, rank
        |FROM rk WHERE rank <= 10 ORDER BY rank""".stripMargin,
    "m13_scene_cuts" ->
      s"""WITH d AS (
        |  SELECT doc_id, text, CAST(t.f AS INT) AS frame_idx,
        |    CAST(list_sum(list_transform(range(0, $YSize), i ->
        |      abs(${textByte(s"$FrameSize*t.f + i")} -
        |          ${textByte(s"$FrameSize*(t.f-1) + i")}))) AS BIGINT) AS delta
        |  FROM documents CROSS JOIN (VALUES (1), (2), (3)) AS t(f))
        |SELECT doc_id, frame_idx, delta, delta // 64 AS mad,
        |  delta // 64 >= 80 AS is_cut
        |FROM d ORDER BY doc_id, frame_idx""".stripMargin)
}
