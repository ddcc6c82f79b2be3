package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.streaming.Drain.drain

/** Hundred-thirteenth batch — stable assignment, blob labeling, and
  * a streaming drift twin:
  *
  *  - q161: Gale–Shapley stable matching of customer nations to
  *    supplier nations by mutual trade-volume preferences
  *    ([[graft.functions.StableMatchExpr]]) — the assignment whose
  *    output admits no blocking pair, run as one codegen'd deferred-
  *    acceptance walk over the flattened 25×25 preference matrices
  *    (bounded-summary pattern); the oracle replays the proposal
  *    sequence step by step in a recursive CTE carrying the
  *    next-proposal and engagement lists.
  *  - m38: blob-size distribution ([[graft.functions.BlobSizesExpr]])
  *    — m37's labeling sibling: per document, every 4-connected
  *    component's popcount (sorted descending), largest blob, and
  *    count; the oracle labels via the recursive reachability closure
  *    and groups to sizes.
  *  - e35: q159's Wasserstein drift with the hourly profiles
  *    maintained as a complete-mode streaming aggregation — the
  *    drift monitor shape at ingest time. Drained state feeds the
  *    identical normalization + EMD algebra, and the oracle is
  *    q159's verbatim: streaming lands the exact batch answer.
  *
  * Scale: q161's arrays are |nations|² by construction; m38 is
  * per-row bounded mask work; e35's streaming state is one row per
  * (event_type, hour) — 120 rows regardless of stream length.
  *
  * Reference scope: extension beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round113Queries extends QueryModule {

  // ── q161: Gale–Shapley stable matching on trade preferences ───────────

  def q161_stable_matching(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.StableMatchExpr
    val wbase = Tables.load(s, dir, "lineitem")
      .join(Tables.load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(Tables.load(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").cast(LongType).as("u"),
        col("s_nationkey").cast(LongType).as("v"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint(true)
    val nk = Tables.load(s, dir, "nation")
      .select(col("n_nationkey").cast(LongType).as("k"))
    val grid = nk.as("a").crossJoin(nk.as("b"))
      .select(col("a.k").as("u"), col("b.k").as("v"))
      .join(wbase, Seq("u", "v"), "left")
      .select(col("u"), col("v"), coalesce(col("w"), lit(0L)).as("w"))
      .localCheckpoint(true)
    val prefC = grid.groupBy()
      .agg(array_sort(collect_list(struct(col("u"), (-col("w")).as("nw"),
        col("v")))).as("es"))
      .select(expr("transform(es, x -> x.v)").as("prefC"))
    val rankS = grid
      .withColumn("rnk", (row_number().over(Window.partitionBy(col("v"))
        .orderBy(col("w").desc, col("u"))) - 1).cast(LongType))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("v"), col("u"), col("rnk"))))
        .as("rs"))
      .select(expr("transform(rs, x -> x.rnk)").as("rankS"))
    val matched = prefC.crossJoin(rankS)
      .select(StableMatchExpr.stableMatch(col("prefC"), col("rankS"))
        .as("pC"))
      .select(posexplode(col("pC")).as(Seq("i", "j")))
      .select(col("i").cast(LongType).as("i"), col("j"))
    matched
      .join(Tables.load(s, dir, "nation").select(col("n_nationkey").cast(LongType)
        .as("i"), col("n_name").as("cust_nation")), Seq("i"))
      .join(Tables.load(s, dir, "nation").select(col("n_nationkey").cast(LongType)
        .as("j"), col("n_name").as("supp_nation")), Seq("j"))
      .join(wbase.select(col("u").as("i"), col("v").as("j"), col("w")),
        Seq("i", "j"), "left")
      .select(col("cust_nation"), col("supp_nation"),
        coalesce(col("w"), lit(0L)).as("w"))
      .orderBy(col("cust_nation"))
  }

  // ── m38: blob-size distribution over encoded document rasters ─────────

  def m38_blob_sizes(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{BlobSizesExpr, ImageExprs}
    Tables.load(s, dir, "documents").select(col("doc_id"),
        BlobSizesExpr.blobSizes(ImageExprs.decodePixels(
          ImageExprs.encodeImageFromText(col("text"), "pgm", 8, 8)), 105)
          .as("sz"))
      .select(col("doc_id"),
        size(col("sz")).cast(LongType).as("n_blobs"),
        coalesce(expr("sz[0]"), lit(0L)).as("max_blob"),
        array_join(col("sz"), ",").as("sizes_csv"))
      .orderBy(col("doc_id"))
  }

  // ── e35: streaming twin of the Wasserstein drift monitor ──────────────

  def e35_stream_wasserstein(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.stream(s, dir, "events")
    val agg = raw.select(col("event_type").as("et"),
        hour(Tables.tsMicros(raw)).cast(LongType).as("hr"))
      .groupBy(col("et"), col("hr")).agg(count(lit(1)).as("c"))
    emdFromCounts(s, drain(agg, "complete").localCheckpoint(true))
  }

  /** q159's normalization + EMD algebra over (et, hr, c) counts. */
  private def emdFromCounts(s: SparkSession, h: DataFrame): DataFrame = {
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

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q161_stable_matching"   -> (q161_stable_matching _),
    "m38_blob_sizes"         -> (m38_blob_sizes _),
    "e35_stream_wasserstein" -> (e35_stream_wasserstein _))

  val oracles: Map[String, String] = Map(
    "q161_stable_matching" ->
      """WITH RECURSIVE wbase AS (
        |  SELECT CAST(c.c_nationkey AS BIGINT) AS u,
        |    CAST(s.s_nationkey AS BIGINT) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS w
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2),
        |nk AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
        |grid AS MATERIALIZED (
        |  SELECT a.k AS u, b.k AS v, coalesce(w.w, 0) AS w
        |  FROM nk a CROSS JOIN nk b
        |  LEFT JOIN wbase w ON w.u = a.k AND w.v = b.k),
        |pc AS (SELECT list(v ORDER BY u, -w, v) AS prefC FROM grid),
        |rs AS (
        |  SELECT list(rnk ORDER BY v, u) AS rankS FROM (
        |    SELECT u, v,
        |      ROW_NUMBER() OVER (PARTITION BY v ORDER BY w DESC, u) - 1
        |        AS rnk
        |    FROM grid)),
        |gs AS (
        |  SELECT 0 AS step,
        |    list_transform(range(1, 26), x -> CAST(0 AS BIGINT)) AS nextIdx,
        |    list_transform(range(1, 26), x -> CAST(-1 AS BIGINT)) AS pC,
        |    list_transform(range(1, 26), x -> CAST(-1 AS BIGINT)) AS pS,
        |    prefC, rankS
        |  FROM pc, rs
        |  UNION ALL
        |  SELECT step + 1,
        |    list_transform(range(1, 26), x ->
        |      CASE WHEN x = p + 1 THEN nextIdx[x] + 1 ELSE nextIdx[x] END),
        |    list_transform(range(1, 26), x -> CASE
        |      WHEN x = p + 1 THEN
        |        (CASE WHEN cur = -1 OR better THEN j ELSE pC[x] END)
        |      WHEN pC[x] = j AND better THEN CAST(-1 AS BIGINT)
        |      ELSE pC[x] END),
        |    list_transform(range(1, 26), x -> CASE
        |      WHEN x = j + 1 AND (cur = -1 OR better) THEN p ELSE pS[x] END),
        |    prefC, rankS
        |  FROM (
        |    SELECT g4.*,
        |      cur <> -1 AND rankS[CAST(j * 25 + p + 1 AS INTEGER)] <
        |                    rankS[CAST(j * 25 + cur + 1 AS INTEGER)]
        |        AS better
        |    FROM (
        |      SELECT g3.*, pS[CAST(j + 1 AS INTEGER)] AS cur
        |      FROM (
        |        SELECT g2.*,
        |          prefC[CAST(p * 25 + nextIdx[CAST(p + 1 AS INTEGER)] + 1
        |            AS INTEGER)] AS j
        |        FROM (
        |          SELECT gs.*, list_position(pC, CAST(-1 AS BIGINT)) - 1
        |            AS p
        |          FROM gs) g2
        |        WHERE p IS NOT NULL AND p >= 0) g3) g4) g5
        |  WHERE step < 700),
        |fin AS (
        |  SELECT * FROM gs
        |  WHERE NOT list_contains(pC, CAST(-1 AS BIGINT))
        |  ORDER BY step LIMIT 1),
        |pairs AS MATERIALIZED (
        |  SELECT CAST(t.i AS BIGINT) AS i,
        |    pC[CAST(t.i + 1 AS INTEGER)] AS j
        |  FROM fin, unnest(range(0, 25)) AS t(i))
        |SELECT nu.n_name AS cust_nation, nv.n_name AS supp_nation,
        |  coalesce(w.w, 0) AS w
        |FROM pairs p
        |JOIN nation nu ON nu.n_nationkey = p.i
        |JOIN nation nv ON nv.n_nationkey = p.j
        |LEFT JOIN wbase w ON w.u = p.i AND w.v = p.j
        |ORDER BY cust_nation""".stripMargin,
    "m38_blob_sizes" ->
      """WITH RECURSIVE
        |px AS (
        |  SELECT doc_id, i - 1 AS i,
        |    ord(substr(text, CAST(((i - 1) % length(text)) + 1 AS INT), 1))
        |      % 256 AS v
        |  FROM documents CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
        |bits AS (SELECT doc_id, i FROM px WHERE v >= 105),
        |edges AS (
        |  SELECT a.doc_id, a.i AS u, b.i AS w
        |  FROM bits a JOIN bits b ON a.doc_id = b.doc_id
        |   AND ((b.i = a.i + 1 AND a.i % 8 < 7)
        |     OR (b.i = a.i - 1 AND a.i % 8 > 0)
        |     OR b.i = a.i + 8 OR b.i = a.i - 8)),
        |reach AS (
        |  SELECT doc_id, i AS a, i AS b FROM bits
        |  UNION
        |  SELECT r.doc_id, r.a, e.w
        |  FROM reach r JOIN edges e ON e.doc_id = r.doc_id AND e.u = r.b),
        |labels AS (
        |  SELECT doc_id, a, MIN(b) AS lbl FROM reach GROUP BY 1, 2),
        |szs AS (
        |  SELECT doc_id, lbl, CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM labels GROUP BY 1, 2),
        |per AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blobs,
        |    MAX(sz) AS max_blob,
        |    list_aggregate(list_transform(
        |      list_reverse_sort(list(sz)), x -> CAST(x AS VARCHAR)),
        |      'string_agg', ',') AS sizes_csv
        |  FROM szs GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(p.n_blobs, 0) AS n_blobs,
        |  COALESCE(p.max_blob, 0) AS max_blob,
        |  COALESCE(p.sizes_csv, '') AS sizes_csv
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN per p ON p.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "e35_stream_wasserstein" ->
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
        |FROM cm GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
