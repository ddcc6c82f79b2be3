package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.NwAlignExpr

/** Hundredth batch — global sequence alignment, adaptive image
  * decomposition, and the dedup-grain funnel:
  *
  *  - q144: Needleman–Wunsch global alignment (match +2 / mismatch −1 /
  *    gap −2) between paired users' event-type strings, via the
  *    codegen'd [[NwAlignExpr]] two-row DP. The oracle replays the
  *    exact quadratic recurrence as a recursive CTE carrying each DP
  *    row as a LIST — the within-row `ins` dependency resolved by the
  *    prefix-max identity `new[j] = max_{k≤j}(cand[k] + 2k) − 2j`
  *    (validated against an independent reference before landing).
  *    Sibling of q137's WIS: the per-row-DP family now covers 1D and
  *    2D recurrences.
  *  - m34: depth-2 quadtree decomposition — split the 8×8 raster when
  *    integer SSE (n·Σv² − (Σv)²) exceeds a threshold, then each 4×4
  *    quadrant again; leaf census 4 + 3·k_split. The adaptive-detail
  *    layout decision (JPEG2000/HEVC partitioning in miniature) in
  *    exact integers, thresholds set at the corpus medians so both
  *    branches genuinely fire.
  *  - d46: dedup-grain funnel — survivors and bytes kept at four
  *    grains: raw → exact text (md5) → token multiset (reorder-
  *    invariant) → token set (vocabulary profile). Each stage keeps
  *    the min doc id per signature; the funnel shows which grain bites
  *    (token-set: 5 000 → 3 935 at sf0.1).
  *
  * Scale: q144 shuffles once to build per-user strings, then the DP is
  * per-pair row work; m34 is two narrow aggregations; d46 is three
  * hash-group passes, each keyed on a signature — the exact shape
  * incremental dedup ledgers persist.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round100Queries extends QueryModule {

  // ── q144: Needleman–Wunsch over paired user event strings ─────────────

  def q144_needleman_wunsch(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val strs = ev
      .select(col("user_id"),
        unix_micros(Tables.tsMicros(ev)).as("us"), col("event_id"),
        expr("""CASE event_type WHEN 'click' THEN 'c' WHEN 'view' THEN 'v'
          | WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
          | ELSE 'e' END""".stripMargin).as("ch"))
      .groupBy(col("user_id"))
      .agg(expr("array_join(transform(array_sort(collect_list(" +
        "struct(us, event_id, ch))), x -> x.ch), '')").as("str"))
    val a = strs.filter(col("user_id") % 2 === 0)
      .select((col("user_id") / 2).cast("long").as("pair_id"),
        col("user_id").as("ua"), col("str").as("sa"))
    val b = strs.filter(col("user_id") % 2 === 1)
      .select(expr("CAST((user_id - 1) / 2 AS BIGINT)").as("pid2"),
        col("user_id").as("ub"), col("str").as("sb"))
    a.join(b, col("pair_id") === col("pid2")).drop("pid2")
      .select(col("pair_id"), col("ua"), col("ub"),
        length(col("sa")).cast("long").as("len_a"),
        length(col("sb")).cast("long").as("len_b"),
        NwAlignExpr.nwAlign(col("sa"), col("sb")).as("score"))
      .orderBy(col("pair_id"))
  }

  // ── m34: depth-2 quadtree split census ────────────────────────────────

  private val RootT = 3500000L
  private val QuadT = 230000L

  def m34_quadtree(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ImageExprs
    val px = Tables.load(s, dir, "documents").select(col("doc_id"),
        ImageExprs.decodePixels(
          ImageExprs.encodeImageFromText(col("text"), "pgm", 8, 8)).as("px"))
      .select(col("doc_id"), posexplode(col("px")).as(Seq("i", "v")))
      .select(col("doc_id"), col("v").cast("long").as("v"),
        expr("(i div 8 div 4) * 2 + (i % 8 div 4)").as("quad"))
    val quads = px.groupBy(col("doc_id"), col("quad"))
      .agg((lit(16L) * sum(col("v") * col("v")) -
        sum(col("v")) * sum(col("v"))).as("sse_q"),
        sum(col("v")).as("sv"), sum(col("v") * col("v")).as("svv"))
    quads.groupBy(col("doc_id"))
      .agg(
        (lit(64L) * sum(col("svv")) - sum(col("sv")) * sum(col("sv")))
          .as("sse_root"),
        sum(when(col("sse_q") > QuadT, 1L).otherwise(0L)).as("n_hot_quads"))
      .select(col("doc_id"), col("sse_root"),
        when(col("sse_root") > RootT, 1L).otherwise(0L).as("root_split"),
        when(col("sse_root") > RootT, col("n_hot_quads")).otherwise(0L)
          .as("n_split_quads"),
        when(col("sse_root") > RootT,
          lit(4L) + lit(3L) * col("n_hot_quads")).otherwise(1L)
          .as("n_leaves"))
      .orderBy(col("doc_id"))
  }

  // ── d46: dedup-grain funnel ───────────────────────────────────────────

  def d46_dedup_funnel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
      .localCheckpoint(true)
    def survivors(df: DataFrame, sigExpr: String): DataFrame =
      df.withColumn("sig", expr(sigExpr))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("sig"))
            .orderBy(col("doc_id"))))
        .filter(col("rn") === 1).drop("sig", "rn")
    val s1 = survivors(base, "md5(text)").localCheckpoint(true)
    val s2 = survivors(s1,
      raw"""md5(array_join(array_sort(split(trim(text), '\\s+')), ' '))""")
      .localCheckpoint(true)
    val s3 = survivors(s2,
      raw"""md5(array_join(array_sort(array_distinct(
        |split(trim(text), '\\s+'))), ' '))""".stripMargin)
    def stage(n: Long, df: DataFrame): DataFrame =
      df.agg(lit(n).as("stage"), count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("bytes_kept"))
        .select(col("stage"), col("n_docs"), col("bytes_kept"))
    stage(0L, base).unionByName(stage(1L, s1))
      .unionByName(stage(2L, s2)).unionByName(stage(3L, s3))
      .orderBy(col("stage"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q144_needleman_wunsch" -> (q144_needleman_wunsch _),
    "m34_quadtree"          -> (m34_quadtree _),
    "d46_dedup_funnel"      -> (d46_dedup_funnel _))

  val oracles: Map[String, String] = Map(
    "q144_needleman_wunsch" ->
      """WITH RECURSIVE
        |strs AS (
        |  SELECT user_id,
        |    string_agg(CASE event_type WHEN 'click' THEN 'c'
        |      WHEN 'view' THEN 'v' WHEN 'purchase' THEN 'p'
        |      WHEN 'signup' THEN 's' ELSE 'e' END, ''
        |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS str
        |  FROM events GROUP BY user_id),
        |pairs AS (
        |  SELECT a.user_id // 2 AS pair_id, a.user_id AS ua,
        |    b.user_id AS ub, a.str AS sa, b.str AS sb,
        |    length(a.str) AS n, length(b.str) AS m
        |  FROM strs a JOIN strs b ON b.user_id = a.user_id + 1
        |  WHERE a.user_id % 2 = 0),
        |walk AS (
        |  SELECT pair_id, sa, sb, n, m, 0 AS i,
        |    list_transform(range(0, m + 1), j -> CAST(-2 * j AS BIGINT))
        |      AS row
        |  FROM pairs
        |  UNION ALL
        |  SELECT pair_id, sa, sb, n, m, i + 1,
        |    list_transform(range(0, m + 1), j ->
        |      list_max(list_transform(range(0, j + 1), k ->
        |        (CASE WHEN k = 0 THEN CAST(-2 * (i + 1) AS BIGINT)
        |         ELSE GREATEST(
        |           row[k] + (CASE WHEN substr(sa, i + 1, 1)
        |                          = substr(sb, k, 1)
        |                     THEN 2 ELSE -1 END),
        |           row[k + 1] - 2) END) + 2 * k)) - 2 * j)
        |  FROM walk WHERE i < n)
        |SELECT p.pair_id, p.ua, p.ub, CAST(p.n AS BIGINT) AS len_a,
        |  CAST(p.m AS BIGINT) AS len_b,
        |  CAST(w.row[p.m + 1] AS BIGINT) AS score
        |FROM pairs p JOIN walk w ON w.pair_id = p.pair_id AND w.i = p.n
        |ORDER BY p.pair_id""".stripMargin,
    "m34_quadtree" ->
      s"""WITH px AS (
        |  SELECT doc_id,
        |    ord(substr(text, CAST(((i - 1) % length(text)) + 1 AS INT), 1))
        |      % 256 AS v,
        |    (((i - 1) // 8) // 4) * 2 + (((i - 1) % 8) // 4) AS quad
        |  FROM documents CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
        |quads AS (
        |  SELECT doc_id, quad,
        |    CAST(16 * SUM(v * v) - SUM(v) * SUM(v) AS BIGINT) AS sse_q,
        |    CAST(SUM(v) AS BIGINT) AS sv,
        |    CAST(SUM(v * v) AS BIGINT) AS svv
        |  FROM px GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(64 * SUM(svv) - SUM(sv) * SUM(sv) AS BIGINT) AS sse_root,
        |    CAST(SUM(CASE WHEN sse_q > $QuadT THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_hot
        |  FROM quads GROUP BY doc_id)
        |SELECT doc_id, sse_root,
        |  CAST(CASE WHEN sse_root > $RootT THEN 1 ELSE 0 END AS BIGINT)
        |    AS root_split,
        |  CAST(CASE WHEN sse_root > $RootT THEN n_hot ELSE 0 END
        |    AS BIGINT) AS n_split_quads,
        |  CAST(CASE WHEN sse_root > $RootT THEN 4 + 3 * n_hot ELSE 1 END
        |    AS BIGINT) AS n_leaves
        |FROM agg ORDER BY doc_id""".stripMargin,
    "d46_dedup_funnel" ->
      raw"""WITH base AS (
        |  SELECT doc_id, text, n_chars FROM documents),
        |s1k AS (SELECT MIN(doc_id) AS doc_id FROM base GROUP BY md5(text)),
        |s1 AS (SELECT b.* FROM base b JOIN s1k k ON b.doc_id = k.doc_id),
        |s2k AS (
        |  SELECT MIN(doc_id) AS doc_id FROM s1
        |  GROUP BY md5(array_to_string(list_sort(
        |    string_split_regex(trim(text), '\s+')), ' '))),
        |s2 AS (SELECT b.* FROM s1 b JOIN s2k k ON b.doc_id = k.doc_id),
        |s3k AS (
        |  SELECT MIN(doc_id) AS doc_id FROM s2
        |  GROUP BY md5(array_to_string(list_sort(list_distinct(
        |    string_split_regex(trim(text), '\s+'))), ' '))),
        |s3 AS (SELECT b.* FROM s2 b JOIN s3k k ON b.doc_id = k.doc_id)
        |SELECT CAST(0 AS BIGINT) AS stage,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS bytes_kept FROM base
        |UNION ALL SELECT 1, CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(n_chars) AS BIGINT) FROM s1
        |UNION ALL SELECT 2, CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(n_chars) AS BIGINT) FROM s2
        |UNION ALL SELECT 3, CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(n_chars) AS BIGINT) FROM s3
        |ORDER BY stage""".stripMargin)
}
