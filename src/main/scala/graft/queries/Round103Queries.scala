package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.BlobCountExpr

/** Hundred-third batch — schema profiling and object counting:
  *
  *  - q146: functional-dependency discovery (the TANE-style pairwise
  *    check): for every ordered column pair of the orders profile,
  *    A → B holds iff |distinct(A)| = |distinct(A, B)|. Exactly the
  *    four key dependencies surface (o_orderkey → each other column)
  *    and the 16 non-FDs report their violation gap — the schema-
  *    inference pass a profiler runs before trusting a feed's keys.
  *  - m37: blob (4-connected component) counting on the thresholded
  *    raster via the codegen'd [[BlobCountExpr]] — one 64-bit
  *    mask-expansion BFS per row, no per-pixel rows at all. The oracle
  *    computes the same labels by a recursive reachability closure
  *    over the adjacency relation and counts distinct min-labels: two
  *    unrelated algorithms, one hash. ≈7 blobs from ≈33 on-pixels at
  *    threshold 105, so the connectivity logic genuinely merges.
  *
  * Scale: q146 is one pass per column pair over a vocab-sized distinct
  * state (a profiler batches these into one Expand pass at scale);
  * m37 is pure per-row bit arithmetic inside codegen.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round103Queries extends QueryModule {

  // ── q146: pairwise functional-dependency discovery ────────────────────

  def q146_fd_discovery(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    // Round-14: the profiled cost was hashing 25× expanded STRING-cast
    // key tuples (guide §2.3 "narrower types"). Distinct counts are
    // invariant under the injective int→string casts, so the Expand now
    // hashes native ints/longs; output (counts only) is bit-identical.
    val src = o.select(
      col("o_orderkey").as("ok"),
      col("o_custkey").as("ck"),
      col("o_orderpriority").as("pr"), col("o_orderstatus").as("st"),
      year(Tables.tsMicros(o, "o_orderdate")).as("yr"))
      .localCheckpoint(true)
    val cols = Seq("ok", "ck", "pr", "st", "yr")
    val pairs = for { lhs <- cols; rhs <- cols if lhs != rhs }
      yield (lhs, rhs)
    // ONE aggregate pass: per-column and per-pair distinct counts planned
    // through a single Expand (25 distinct aggregates, one shuffle) —
    // the batched shape a profiler uses instead of one job per pair
    val aggs = cols.map(c => countDistinct(col(c)).as(s"d_$c")) ++
      pairs.map { case (l, r) =>
        countDistinct(col(l), col(r)).as(s"d_${l}_$r")
      }
    val one = src.agg(aggs.head, aggs.tail: _*).localCheckpoint(true)
    val wide = pairs.map { case (l, r) =>
      one.select(lit(l).as("lhs"), lit(r).as("rhs"),
        col(s"d_$l").as("n_lhs"), col(s"d_${l}_$r").as("n_pair"))
    }.reduce(_ unionByName _)
    wide
      .select(col("lhs"), col("rhs"), col("n_lhs"), col("n_pair"),
        when(col("n_lhs") === col("n_pair"), 1L).otherwise(0L)
          .as("fd_holds"))
      .orderBy(col("lhs"), col("rhs"))
  }

  // ── m37: blob counting via the 64-bit BFS expression ──────────────────

  def m37_blob_count(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ImageExprs
    Tables.load(s, dir, "documents").select(col("doc_id"),
        ImageExprs.decodePixels(
          ImageExprs.encodeImageFromText(col("text"), "pgm", 8, 8)).as("px"))
      .select(col("doc_id"),
        BlobCountExpr.blobCount(col("px"), 105).as("n_blobs"),
        expr("aggregate(transform(px, v -> CASE WHEN v >= 105 THEN 1L" +
          " ELSE 0L END), 0L, (a, x) -> a + x)").as("n_on"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q146_fd_discovery" -> (q146_fd_discovery _),
    "m37_blob_count"    -> (m37_blob_count _))

  val oracles: Map[String, String] = Map(
    "q146_fd_discovery" ->
      """WITH src AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS ok,
        |    CAST(o_custkey AS VARCHAR) AS ck,
        |    o_orderpriority AS pr, o_orderstatus AS st,
        |    CAST(year(o_orderdate) AS VARCHAR) AS yr
        |  FROM orders),
        |stats AS (
        |  SELECT 'ok' AS lhs, 'ck' AS rhs, COUNT(DISTINCT ok) AS n_lhs,
        |    COUNT(DISTINCT (ok, ck)) AS n_pair FROM src
        |  UNION ALL SELECT 'ok', 'pr', COUNT(DISTINCT ok),
        |    COUNT(DISTINCT (ok, pr)) FROM src
        |  UNION ALL SELECT 'ok', 'st', COUNT(DISTINCT ok),
        |    COUNT(DISTINCT (ok, st)) FROM src
        |  UNION ALL SELECT 'ok', 'yr', COUNT(DISTINCT ok),
        |    COUNT(DISTINCT (ok, yr)) FROM src
        |  UNION ALL SELECT 'ck', 'ok', COUNT(DISTINCT ck),
        |    COUNT(DISTINCT (ck, ok)) FROM src
        |  UNION ALL SELECT 'ck', 'pr', COUNT(DISTINCT ck),
        |    COUNT(DISTINCT (ck, pr)) FROM src
        |  UNION ALL SELECT 'ck', 'st', COUNT(DISTINCT ck),
        |    COUNT(DISTINCT (ck, st)) FROM src
        |  UNION ALL SELECT 'ck', 'yr', COUNT(DISTINCT ck),
        |    COUNT(DISTINCT (ck, yr)) FROM src
        |  UNION ALL SELECT 'pr', 'ok', COUNT(DISTINCT pr),
        |    COUNT(DISTINCT (pr, ok)) FROM src
        |  UNION ALL SELECT 'pr', 'ck', COUNT(DISTINCT pr),
        |    COUNT(DISTINCT (pr, ck)) FROM src
        |  UNION ALL SELECT 'pr', 'st', COUNT(DISTINCT pr),
        |    COUNT(DISTINCT (pr, st)) FROM src
        |  UNION ALL SELECT 'pr', 'yr', COUNT(DISTINCT pr),
        |    COUNT(DISTINCT (pr, yr)) FROM src
        |  UNION ALL SELECT 'st', 'ok', COUNT(DISTINCT st),
        |    COUNT(DISTINCT (st, ok)) FROM src
        |  UNION ALL SELECT 'st', 'ck', COUNT(DISTINCT st),
        |    COUNT(DISTINCT (st, ck)) FROM src
        |  UNION ALL SELECT 'st', 'pr', COUNT(DISTINCT st),
        |    COUNT(DISTINCT (st, pr)) FROM src
        |  UNION ALL SELECT 'st', 'yr', COUNT(DISTINCT st),
        |    COUNT(DISTINCT (st, yr)) FROM src
        |  UNION ALL SELECT 'yr', 'ok', COUNT(DISTINCT yr),
        |    COUNT(DISTINCT (yr, ok)) FROM src
        |  UNION ALL SELECT 'yr', 'ck', COUNT(DISTINCT yr),
        |    COUNT(DISTINCT (yr, ck)) FROM src
        |  UNION ALL SELECT 'yr', 'pr', COUNT(DISTINCT yr),
        |    COUNT(DISTINCT (yr, pr)) FROM src
        |  UNION ALL SELECT 'yr', 'st', COUNT(DISTINCT yr),
        |    COUNT(DISTINCT (yr, st)) FROM src)
        |SELECT lhs, rhs, CAST(n_lhs AS BIGINT) AS n_lhs,
        |  CAST(n_pair AS BIGINT) AS n_pair,
        |  CAST(CASE WHEN n_lhs = n_pair THEN 1 ELSE 0 END AS BIGINT)
        |    AS fd_holds
        |FROM stats ORDER BY lhs, rhs""".stripMargin,
    "m37_blob_count" ->
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
        |blobs AS (
        |  SELECT doc_id, CAST(COUNT(DISTINCT lbl) AS BIGINT) AS n_blobs,
        |    CAST(COUNT(*) AS BIGINT) AS n_on
        |  FROM labels GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(b.n_blobs, 0) AS n_blobs,
        |  COALESCE(b.n_on, 0) AS n_on
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN blobs b ON d.doc_id = b.doc_id
        |ORDER BY d.doc_id""".stripMargin)
}
