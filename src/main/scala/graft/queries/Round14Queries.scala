package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.Drain.drain

/** Fourteenth batch — the full IVFADC composition and its streaming
  * ingest half:
  *
  *  - s10: IVFADC (Jégou et al. 2011 §V) — integer-Lloyd coarse cells
  *    prune the candidate set per query (nprobe nearest cells), then
  *    the PQ-ADC compressed-domain scan ranks only those members. The
  *    two halves are s8's clustering and s9's code scan, composed; the
  *    oracle replays both chains end-to-end.
  *  - e17: PQ encoding at STREAM-INGEST time — new vectors encode
  *    against the (driver-local, broadcast) codebook artifact as a pure
  *    projection: append-mode, zero streaming state at any rate. The
  *    batch twin (s9's distributed-codebook encode) is spec-pinned
  *    equal; the oracle replays the same argmin.
  *
  * Reference scope: extensions beyond the reference surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round14Queries extends QueryModule {

  // ── s10: IVFADC — 4 coarse cells (2 Lloyd updates), nprobe=2, PQ =
  //        4×16 with 4 centroids/subspace, top-5. Cells and codes are
  //        the two persisted artifacts; at query time the centroid and
  //        codebook tables broadcast and the corpus is touched only in
  //        the compressed domain, only inside probed cells. ───────────
  def s10_ivfadc(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Kmeans, Pq}
    import graft.functions.NativeExprs
    val emb = Tables.load(s, dir, "embeddings")
    val q = Kmeans.quantized(emb, "vec_id", "embedding").localCheckpoint()
    val cent = Kmeans.centroids(emb, "vec_id", "embedding",
      k = 4, iters = 2).localCheckpoint()
    val cells = Kmeans.assign(q, cent)
      .select(col("id"), col("c").as("cell"))
    val queries = q.where(col("id") % 100 === 0)

    val probeW = Window.partitionBy(col("qid"))
      .orderBy(col("d2"), col("cell"))
    val probes = queries.crossJoin(broadcast(cent))
      .select(col("id").as("qid"), col("c").as("cell"),
        NativeExprs.l2sqLong(col("v"), col("cv")).as("d2"))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= 2)
      .select(col("qid"), col("cell"))

    val cb = Pq.codebook(q, m = 4, sub = 16, kCent = 4).localCheckpoint()
    val codes = Pq.encode(q, cb, m = 4, sub = 16)
    val dtab = Pq.distTables(queries, cb, m = 4, sub = 16)
    val cand = cells.join(broadcast(probes), "cell")
      .select(col("qid"), col("id"))
    Pq.ivfadcRank(codes, cand, dtab, topK = 5)
      .orderBy(col("query_id"), col("rk"))
  }

  // ── e17: streaming PQ ingest — odd-id vectors arrive via readStream
  //        and encode in append mode (stateless projection against the
  //        driver-local codebook); the drained code table IS the
  //        incremental index-build artifact. ──────────────────────────
  def e17_stream_pq_ingest(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Kmeans, Pq}
    val emb = Tables.load(s, dir, "embeddings")
    val cbLocal = Pq.codebook(
        Kmeans.quantized(emb, "vec_id", "embedding"), m = 4, sub = 16,
        kCent = 4)
      .collect()
      .groupBy(_.getInt(1)) // j -> entries
      .toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getLong(0))
          .map(_.getSeq[Long](2).toArray).toArray
      }.toArray
    val stream = Tables.stream(s, dir, "embeddings", emb.schema)
      .filter(col("vec_id") % 2 === 1)
    val codes = Pq.encodeMapped(
      Kmeans.quantized(stream, "vec_id", "embedding"), cbLocal,
      m = 4, sub = 16)
    drain(codes, "append")
      .select(col("id").as("vec_id"), col("j"), col("code"))
      .orderBy(col("vec_id"), col("j"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s10_ivfadc"          -> (s10_ivfadc _),
    "e17_stream_pq_ingest" -> (e17_stream_pq_ingest _))

  /** The s8 Lloyd chain (cells + final centroids) — shared by s10's
    * oracle with the s9 code chain. */
  private val lloydCells =
    """raw AS (
      |  SELECT vec_id, unnest(embedding) AS x,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, i - 1 AS i,
      |    CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS qx
      |  FROM raw),
      |c0 AS (SELECT vec_id AS c, i, qx AS cx FROM q WHERE vec_id < 4),
      |e1 AS (SELECT q.vec_id, c0.c,
      |         CAST(SUM((q.qx - c0.cx) * (q.qx - c0.cx)) AS BIGINT) AS d2
      |       FROM q JOIN c0 ON q.i = c0.i GROUP BY 1, 2),
      |a1 AS (SELECT vec_id, c FROM (
      |         SELECT vec_id, c,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c)
      |             AS rn
      |         FROM e1) WHERE rn = 1),
      |c1 AS (SELECT a1.c, q.i,
      |         CAST((SUM(q.qx) -
      |               ((SUM(q.qx) % COUNT(*) + COUNT(*)) % COUNT(*)))
      |              // COUNT(*) AS BIGINT) AS cx
      |       FROM a1 JOIN q USING (vec_id) GROUP BY 1, 2),
      |e2 AS (SELECT q.vec_id, c1.c,
      |         CAST(SUM((q.qx - c1.cx) * (q.qx - c1.cx)) AS BIGINT) AS d2
      |       FROM q JOIN c1 ON q.i = c1.i GROUP BY 1, 2),
      |a2 AS (SELECT vec_id, c FROM (
      |         SELECT vec_id, c,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c)
      |             AS rn
      |         FROM e2) WHERE rn = 1),
      |c2 AS (SELECT a2.c, q.i,
      |         CAST((SUM(q.qx) -
      |               ((SUM(q.qx) % COUNT(*) + COUNT(*)) % COUNT(*)))
      |              // COUNT(*) AS BIGINT) AS cx
      |       FROM a2 JOIN q USING (vec_id) GROUP BY 1, 2),
      |e3 AS (SELECT q.vec_id, c2.c,
      |         CAST(SUM((q.qx - c2.cx) * (q.qx - c2.cx)) AS BIGINT) AS d2
      |       FROM q JOIN c2 ON q.i = c2.i GROUP BY 1, 2),
      |cl AS (SELECT vec_id, c AS cell FROM (
      |         SELECT vec_id, c,
      |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c)
      |             AS rn
      |         FROM e3) WHERE rn = 1)""".stripMargin

  /** The s9 PQ chain (subspaces, codebook, codes). */
  private val pqCodes =
    """s AS (SELECT vec_id, i // 16 AS j, i % 16 AS si, qx FROM q),
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
      |    FROM enc) WHERE rn = 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    "s10_ivfadc" ->
      s"""WITH $lloydCells,
        |$pqCodes,
        |probes AS (
        |  SELECT qid, cell FROM (
        |    SELECT q.vec_id AS qid, c2.c AS cell,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY SUM((q.qx - c2.cx) * (q.qx - c2.cx)), c2.c)
        |        AS rn
        |    FROM q JOIN c2 ON c2.i = q.i
        |    WHERE q.vec_id % 100 = 0
        |    GROUP BY q.vec_id, c2.c) WHERE rn <= 2),
        |qs AS (SELECT vec_id AS qid, j, si, qx FROM s
        |       WHERE vec_id % 100 = 0),
        |dtab AS (
        |  SELECT qs.qid, qs.j, cb.c,
        |         CAST(SUM((qs.qx - cb.cx) * (qs.qx - cb.cx)) AS BIGINT)
        |           AS d2
        |  FROM qs JOIN cb ON cb.j = qs.j AND cb.si = qs.si
        |  GROUP BY 1, 2, 3),
        |cand AS (
        |  SELECT probes.qid, cl.vec_id
        |  FROM cl JOIN probes ON probes.cell = cl.cell),
        |adc AS (
        |  SELECT d.qid, codes.vec_id, CAST(SUM(d.d2) AS BIGINT) AS dadc
        |  FROM codes
        |  JOIN cand ON cand.vec_id = codes.vec_id
        |  JOIN dtab d ON d.qid = cand.qid AND d.j = codes.j
        |    AND d.c = codes.c
        |  WHERE codes.vec_id <> d.qid
        |  GROUP BY 1, 2)
        |SELECT qid AS query_id, vec_id AS cand_id, dadc AS dist_adc, rk
        |FROM (
        |  SELECT qid, vec_id, dadc,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
        |                            ORDER BY dadc, vec_id) AS BIGINT) AS rk
        |  FROM adc) WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,
    "e17_stream_pq_ingest" ->
      s"""WITH raw AS (
        |  SELECT vec_id, unnest(embedding) AS x,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, i - 1 AS i,
        |    CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS qx
        |  FROM raw),
        |$pqCodes
        |SELECT vec_id, CAST(j AS INT) AS j, c AS code
        |FROM codes WHERE vec_id % 2 = 1
        |ORDER BY vec_id, j""".stripMargin)
}
