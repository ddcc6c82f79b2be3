package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{ImageExprs, WisDpExpr}
import graft.streaming.Drain.drain

/** Ninety-fifth batch — per-key dynamic programming as a native
  * expression, motion estimation, and a streaming keyness twin:
  *
  *  - q137: weighted interval scheduling per customer — engagement
  *    windows `[orderdate, orderdate + (okey % 30 + 1) days]` weighted
  *    by order cents; the classic `dp[i] = max(dp[i−1], w_i + dp[p(i)])`
  *    recurrence runs inside the codegen'd [[WisDpExpr]] over each
  *    customer's end-sorted interval array (a per-key sequential
  *    recurrence no window function can express — the group-to-array +
  *    native-expression shape is the Spark-idiomatic answer). The
  *    oracle replays the DP as a recursive CTE accumulating the dp
  *    table as a LIST, predecessor indices precomputed by counting —
  *    two completely different executions of the same recurrence must
  *    agree hash-exactly.
  *  - m31: block motion estimation — frame 1 is the raster of the text
  *    rotated by one character, so content genuinely moves; per 4×4
  *    block, exhaustive SAD search over (dx, dy) ∈ [−1, 1]² with
  *    deterministic tie-break (sad, dy, dx), in-bounds pixels only.
  *    The video-codec motion-search primitive in exact integers.
  *  - e32: t52's G² keyness with the per-(corpus, term) counts
  *    maintained as a complete-mode streaming aggregation, the G²
  *    scoring applied to the drained state; shares t52's oracle —
  *    streaming lands the exact batch answer.
  *
  * Scale: q137 shuffles once on customer and each DP is O(n log n) in
  * one row; m31 is per-row array arithmetic inside codegen-friendly
  * higher-order functions; e32's streaming state is vocab-sized.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round95Queries extends QueryModule {

  // ── q137: weighted interval scheduling via the native DP expression ───

  def q137_interval_scheduling(s: SparkSession, dir: String): DataFrame = {
    val ords = Tables.load(s, dir, "orders").filter(col("o_custkey") % 8 === 1)
    val base = ords.select(col("o_custkey").as("c"),
      col("o_orderkey").as("ok"),
      unix_micros(Tables.tsMicros(ords, "o_orderdate")).as("st"),
      (unix_micros(Tables.tsMicros(ords, "o_orderdate")) +
        (col("o_orderkey") % 30 + 1) * 86400000000L).as("en"),
      expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("w"))
    base.groupBy(col("c"))
      .agg(count(lit(1)).as("n_intervals"),
        WisDpExpr.wisDp(array_sort(collect_list(
          struct(col("en"), col("st"), col("ok"), col("w")))))
          .as("best_w"))
      .orderBy(col("c"))
  }

  // ── m31: 4×4-block SAD motion estimation between rotated rasters ──────

  def m31_block_motion(s: SparkSession, dir: String): DataFrame = {
    val frames = Tables.load(s, dir, "documents").select(col("doc_id"),
      ImageExprs.decodePixels(
        ImageExprs.encodeImageFromText(col("text"), "pgm", 8, 8)).as("f0"),
      ImageExprs.decodePixels(ImageExprs.encodeImageFromText(
        expr("concat(substring(text, 2), substring(text, 1, 1))"),
        "pgm", 8, 8)).as("f1"))
    // block origin (bx, by) = ((blk % 2) * 4, (blk div 2) * 4); pixel i
    // of the block probes f1 at (x, y) and f0 at (x + dx, y + dy).
    // Round-14 reshape (guide §2.4 + §4): the old 4×3×3 candidate explode
    // carried two 64-element rasters on each of 36 rows per doc into a
    // (doc_id, blk) window — a full shuffle and sort for what is a
    // per-row argmin, with the SAD itself evaluated through interpreted
    // higher-order lambdas. Only the blk explode remains (its Generate is
    // also the projection barrier that keeps the decode evaluated ONCE
    // per doc — without it CollapseProject inlines decode_pixels into
    // every array access and re-decodes the frame ~1000× per row,
    // measured 10× slower); the whole (dy, dx) search now runs in the
    // codegen'd [[graft.functions.NativeExprs.blockMotionBest]] loop
    // whose ascending scan + strict < reproduces the window's
    // orderBy(sad, dy, dx) rank-1 exactly (BlockMotionBestSpec pins it
    // against the old windowed spelling). No exchange before the final
    // orderBy.
    val cand = frames
      .select(col("doc_id"), col("f0"), col("f1"),
        explode(expr("sequence(0, 3)")).as("blk"))
    cand.select(col("doc_id"), col("blk"),
        graft.functions.NativeExprs.blockMotionBest(
          col("f0"), col("f1"), col("blk")).as("b"))
      .select(col("doc_id"), col("blk").cast("long").as("blk"),
        col("b").getItem(2).as("best_dx"),
        col("b").getItem(1).as("best_dy"),
        col("b").getItem(0).as("best_sad"),
        col("b").getItem(3).as("n_valid"))
      .orderBy(col("doc_id"), col("blk"))
  }

  // ── e32: streaming twin of the G² keyness table ───────────────────────

  def e32_stream_keyness(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val docs = Tables.load(s, dir, "documents")
    val stream = Tables.stream(s, dir, "documents", docs.schema)
      // per-batch repartition before the heavy per-row tokenize
      // (round 14 — see e36's note)
      .repartition(s.sparkContext.defaultParallelism)
    val counts = stream
      .select(when(col("source") === "src0", "a").otherwise("b").as("corp"),
        explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("w"))
      .agg(sum(when(col("corp") === "a", 1L).otherwise(0L)).as("a"),
        sum(when(col("corp") === "b", 1L).otherwise(0L)).as("b"))
    val cnt = drain(counts, "complete")
    val tot = cnt.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
    cnt.crossJoin(broadcast(tot))
      .select(col("w").as("term"), col("a"), col("b"),
        round(lit(2.0) * (
          when(col("a") > 0, col("a") * log(
            col("a").cast("double") * (col("ta") + col("tb")) /
              ((col("a") + col("b")).cast("double") * col("ta"))))
            .otherwise(0.0) +
          when(col("b") > 0, col("b") * log(
            col("b").cast("double") * (col("ta") + col("tb")) /
              ((col("a") + col("b")).cast("double") * col("tb"))))
            .otherwise(0.0)), 6).as("g2"),
        when(col("a").cast("double") * col("tb") >
          col("b").cast("double") * col("ta"), "over").otherwise("under")
          .as("direction"))
      .orderBy(col("term"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q137_interval_scheduling" -> (q137_interval_scheduling _),
    "m31_block_motion"         -> (m31_block_motion _),
    "e32_stream_keyness"       -> (e32_stream_keyness _))

  val oracles: Map[String, String] = Map(
    "q137_interval_scheduling" ->
      """WITH RECURSIVE
        |iv AS (
        |  SELECT o_custkey AS c, o_orderkey AS ok,
        |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS s,
        |    epoch_us(CAST(o_orderdate AS TIMESTAMP))
        |      + (o_orderkey % 30 + 1) * 86400000000 AS e,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS w
        |  FROM orders WHERE o_custkey % 8 = 1),
        |idxed AS (
        |  SELECT c, ok, s, e, w,
        |    ROW_NUMBER() OVER (PARTITION BY c ORDER BY e, s, ok) AS i,
        |    CAST(COUNT(*) OVER (PARTITION BY c) AS BIGINT) AS n
        |  FROM iv),
        |pred AS (
        |  SELECT a.c, a.i, a.w, a.n,
        |    CAST(COALESCE(SUM(CASE WHEN b.e <= a.s THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS p
        |  FROM idxed a LEFT JOIN idxed b ON a.c = b.c AND b.i != a.i
        |  GROUP BY a.c, a.i, a.w, a.n),
        |walk AS (
        |  SELECT c, 0::BIGINT AS i, [0::BIGINT] AS dp, n
        |  FROM (SELECT DISTINCT c, n FROM pred)
        |  UNION ALL
        |  SELECT w.c, w.i + 1,
        |    list_append(w.dp, GREATEST(w.dp[CAST(w.i AS INT) + 1],
        |      p.w + w.dp[CAST(p.p AS INT) + 1])),
        |    w.n
        |  FROM walk w JOIN pred p ON p.c = w.c AND p.i = w.i + 1
        |  WHERE w.i < w.n)
        |SELECT c, n AS n_intervals,
        |  CAST(dp[CAST(n AS INT) + 1] AS BIGINT) AS best_w
        |FROM walk WHERE i = n ORDER BY c""".stripMargin,
    "m31_block_motion" -> {
      def v(frame: String, idx: String): String =
        if (frame == "f0")
          s"ord(substr(text, CAST((($idx) % length(text)) + 1 AS INT), 1)) % 256"
        else
          s"ord(substr(text, CAST(((($idx) + 1) % length(text)) + 1 AS INT), 1)) % 256"
      s"""WITH cand AS (
        |  SELECT doc_id, blk.blk, dy.dy, dx.dx,
        |    CAST(list_sum(list_transform(range(0, 16), i ->
        |      CASE WHEN (blk.blk % 2) * 4 + i % 4 + dx.dx BETWEEN 0 AND 7
        |            AND (blk.blk // 2) * 4 + i // 4 + dy.dy
        |              BETWEEN 0 AND 7
        |        THEN abs((${v("f1", "((blk.blk // 2) * 4 + i // 4) * 8 + (blk.blk % 2) * 4 + i % 4")})
        |          - (${v("f0", "((blk.blk // 2) * 4 + i // 4 + dy.dy) * 8 + (blk.blk % 2) * 4 + i % 4 + dx.dx")}))
        |        ELSE 0 END)) AS BIGINT) AS sad,
        |    CAST(list_sum(list_transform(range(0, 16), i ->
        |      CASE WHEN (blk.blk % 2) * 4 + i % 4 + dx.dx BETWEEN 0 AND 7
        |            AND (blk.blk // 2) * 4 + i // 4 + dy.dy
        |              BETWEEN 0 AND 7
        |        THEN 1 ELSE 0 END)) AS BIGINT) AS n_valid
        |  FROM documents
        |  CROSS JOIN (SELECT unnest(range(0, 4)) AS blk) blk
        |  CROSS JOIN (SELECT unnest(range(-1, 2)) AS dy) dy
        |  CROSS JOIN (SELECT unnest(range(-1, 2)) AS dx) dx)
        |SELECT doc_id, blk, dx AS best_dx, dy AS best_dy,
        |  sad AS best_sad, n_valid
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, blk
        |    ORDER BY sad, dy, dx) AS rn FROM cand)
        |WHERE rn = 1 ORDER BY doc_id, blk""".stripMargin
    },
    "e32_stream_keyness" -> Round94Queries.oracles("t52_keyness_g2"))
}
