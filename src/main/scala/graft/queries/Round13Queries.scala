package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Thirteenth batch — compressed-domain vector search:
  *
  *  - s9: product-quantization ADC top-k ([[graft.operators.Pq]]) —
  *    the corpus is scanned as m-codes-per-vector (the persisted PQ
  *    artifact shape), queries ride as broadcast per-subspace distance
  *    tables, and ranking never touches a raw float. The memory move
  *    that makes 100 TB vector search feasible (Jégou et al. 2011).
  *
  * Reference scope: extension beyond the reference surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round13Queries extends QueryModule {

  // ── s9: PQ-ADC — 4 subspaces × 16 dims, 4 codebook entries per
  //        subspace (the 4 lowest-id vectors' subslices — a production
  //        build trains them with s8's Lloyd per subspace), queries =
  //        vec_id % 100 == 0, top-5 by summed table distances. ─────────
  def s9_pq_adc(s: SparkSession, dir: String): DataFrame =
    graft.operators.Pq.adcTopK(Tables.load(s, dir, "embeddings"), "vec_id",
        "embedding", m = 4, sub = 16, kCent = 4, queryMod = 100, topK = 5)
      .orderBy(col("query_id"), col("rk"))

  // ── q77: HITS hubs/authorities over the directed co-purchase graph
  //        (u → v on part-key order, q75's edge interpretation) — two
  //        alternating integer passes, each one keyed join + aggregate;
  //        unnormalized so the oracle replays exact BIGINT sums (the
  //        ranking is normalization-invariant). ────────────────────────
  def q77_hits(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph
      .hits(Round6Queries.copurchaseEdges(s, dir), "u", "v", iters = 2)
      .orderBy(col("node"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s9_pq_adc" -> (s9_pq_adc _),
    "q77_hits"  -> (q77_hits _))

  val oracles: Map[String, String] = Map(
    // two unrolled alternating passes: a = in-sum(h), h = out-sum(a)
    "q77_hits" ->
      s"""WITH ${Round6Queries.edgesSql},
        |a1 AS (SELECT v AS n, CAST(COUNT(*) AS BIGINT) AS a
        |       FROM e GROUP BY 1),
        |h1 AS (SELECT e.u AS n, CAST(SUM(a1.a) AS BIGINT) AS h
        |       FROM e JOIN a1 ON a1.n = e.v GROUP BY 1),
        |a2 AS (SELECT e.v AS n, CAST(SUM(h1.h) AS BIGINT) AS a
        |       FROM e JOIN h1 ON h1.n = e.u GROUP BY 1),
        |h2 AS (SELECT e.u AS n, CAST(SUM(a2.a) AS BIGINT) AS h
        |       FROM e JOIN a2 ON a2.n = e.v GROUP BY 1),
        |nodes AS (SELECT u AS n FROM e UNION SELECT v FROM e)
        |SELECT nodes.n AS node,
        |  COALESCE(h2.h, CAST(0 AS BIGINT)) AS hub,
        |  COALESCE(a2.a, CAST(0 AS BIGINT)) AS authority
        |FROM nodes LEFT JOIN h2 ON h2.n = nodes.n
        |LEFT JOIN a2 ON a2.n = nodes.n
        |ORDER BY node""".stripMargin,
    // encode + distance tables + ADC scan replayed on the integer grid
    "s9_pq_adc" ->
      """WITH raw AS (
        |  SELECT vec_id, unnest(embedding) AS x,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, i - 1 AS i,
        |    CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS qx
        |  FROM raw),
        |s AS (SELECT vec_id, i // 16 AS j, i % 16 AS si, qx FROM q),
        |cb AS (SELECT vec_id AS c, j, si, qx AS cx FROM s
        |       WHERE vec_id < 4),
        |enc AS (
        |  SELECT s.vec_id, s.j, cb.c,
        |         SUM((s.qx - cb.cx) * (s.qx - cb.cx)) AS d2
        |  FROM s JOIN cb ON cb.j = s.j AND cb.si = s.si
        |  GROUP BY 1, 2, 3),
        |codes AS (
        |  SELECT vec_id, j, c FROM (
        |    SELECT vec_id, j, c,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2, c)
        |        AS rn
        |    FROM enc) WHERE rn = 1),
        |qs AS (SELECT vec_id AS qid, j, si, qx FROM s
        |       WHERE vec_id % 100 = 0),
        |dtab AS (
        |  SELECT qs.qid, qs.j, cb.c,
        |         CAST(SUM((qs.qx - cb.cx) * (qs.qx - cb.cx)) AS BIGINT)
        |           AS d2
        |  FROM qs JOIN cb ON cb.j = qs.j AND cb.si = qs.si
        |  GROUP BY 1, 2, 3),
        |adc AS (
        |  SELECT d.qid, codes.vec_id, CAST(SUM(d.d2) AS BIGINT) AS dadc
        |  FROM codes JOIN dtab d ON d.j = codes.j AND d.c = codes.c
        |  WHERE codes.vec_id <> d.qid
        |  GROUP BY 1, 2)
        |SELECT qid AS query_id, vec_id AS cand_id, dadc AS dist_adc, rk
        |FROM (
        |  SELECT qid, vec_id, dadc,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
        |                            ORDER BY dadc, vec_id) AS BIGINT) AS rk
        |  FROM adc) WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin)
}
