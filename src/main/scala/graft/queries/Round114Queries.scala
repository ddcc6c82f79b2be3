package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables

/** Hundred-fourteenth batch — placement planning and raster cleanup:
  *
  *  - q162: consistent-hashing ring placement + resharding audit —
  *    customer keys assigned to nation-owned virtual nodes (8 vnodes
  *    each) on the mod-2⁶¹−1 ring via the repo's squared-remix hash
  *    chain, then the heaviest owner is removed and keys reassigned.
  *    Consistent hashing's defining property — ONLY the removed
  *    node's keys move — is part of the gated output (n_before of the
  *    removed node equals total moved_in). Assignment is map-side: a
  *    broadcast sorted ring array scanned per key (binary search at
  *    100 TB; same plan shape), no shuffle to place a key.
  *  - m39: binary morphology ([[graft.functions.MorphExpr]]) —
  *    erosion, dilation, opening of the thresholded document raster
  *    with the 4-connected cross element, as shifted-mask algebra on
  *    the single-Long bitmap; the opened mask ships as two 32-bit
  *    halves. Erosion ⊆ original ⊆ dilation and opening ⊆ original
  *    hold by construction and are spec-pinned.
  *
  * Scale: q162's ring is |nations|×8 entries broadcast to every task;
  * m39 is per-row constant mask work.
  *
  * Reference scope: extension beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round114Queries extends QueryModule {

  // ── q162: consistent-hashing placement + resharding audit ─────────────

  private val RingRow = (1299709L, 104729L)
  private val KeyRow = (15485863L, 1999L)

  def q162_consistent_hashing(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val ring = Tables.load(s, dir, "nation")
      .select(col("n_nationkey").cast(LongType).as("nk"))
      .crossJoin(broadcast(s.range(0, 8).select(col("id").as("vn"))))
      .select(col("nk"),
        CountMin.mix61(col("nk") * 31 + col("vn") + 1,
          RingRow._1, RingRow._2).as("pos"))
      .localCheckpoint(true)
    val keys = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("ck"),
        CountMin.mix61(col("c_custkey"), KeyRow._1, KeyRow._2).as("kpos"))
      .localCheckpoint(true)

    // map-side placement: broadcast the sorted ring array, first entry
    // with pos >= kpos owns the key (wrap to the ring's first entry)
    def assign(ringDf: DataFrame): DataFrame = {
      val arr = ringDf.groupBy()
        .agg(array_sort(collect_list(struct(col("pos"), col("nk"))))
          .as("ra"))
      keys.crossJoin(broadcast(arr))
        .select(col("ck"),
          // get() is null on empty (key past the last ring entry) — wrap
          expr("""coalesce(get(filter(ra, x -> x.pos >= kpos), 0).nk,
            ra[0].nk)""").as("owner"))
    }

    val a1 = assign(ring).localCheckpoint(true)
    val c1 = a1.groupBy(col("owner")).agg(count(lit(1)).as("n_before"))
      .localCheckpoint(true)
    val rem = c1.orderBy(col("n_before").desc, col("owner")).limit(1)
      .select(col("owner").as("removed")).localCheckpoint(true)
    val ring2 = ring.crossJoin(broadcast(rem))
      .filter(col("nk") =!= col("removed")).select(col("nk"), col("pos"))
    val a2 = assign(ring2).localCheckpoint(true)
    val c2 = a2.groupBy(col("owner")).agg(count(lit(1)).as("n_after"))
    val moved = a2.as("x").join(a1.as("y"),
        col("x.ck") === col("y.ck") && col("x.owner") =!= col("y.owner"))
      .groupBy(col("x.owner").as("owner"))
      .agg(count(lit(1)).as("moved_in"))
    Tables.load(s, dir, "nation")
      .select(col("n_nationkey").cast(LongType).as("nk"), col("n_name"))
      .crossJoin(broadcast(rem))
      .join(c1.select(col("owner").as("nk"), col("n_before")),
        Seq("nk"), "left")
      .join(c2.select(col("owner").as("nk"), col("n_after")),
        Seq("nk"), "left")
      .join(moved.select(col("owner").as("nk"), col("moved_in")),
        Seq("nk"), "left")
      .select(col("n_name"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("moved_in"), lit(0L)).as("moved_in"),
        (col("nk") === col("removed")).cast(LongType).as("is_removed"))
      .orderBy(col("n_name"))
  }

  // ── m39: binary morphology over encoded document rasters ──────────────

  def m39_morphology(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{ImageExprs, MorphExpr}
    Tables.load(s, dir, "documents").select(col("doc_id"),
        MorphExpr.morphology(ImageExprs.decodePixels(
          ImageExprs.encodeImageFromText(col("text"), "pgm", 8, 8)), 105)
          .as("m"))
      .select(col("doc_id"),
        expr("bit_count(m[0])").cast(LongType).as("n_on"),
        expr("bit_count(m[1])").cast(LongType).as("n_eroded"),
        expr("bit_count(m[2])").cast(LongType).as("n_dilated"),
        expr("bit_count(m[3])").cast(LongType).as("n_opened"),
        expr("m[3] & 4294967295").as("opened_lo"),
        expr("shiftrightunsigned(m[3], 32)").as("opened_hi"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q162_consistent_hashing" -> (q162_consistent_hashing _),
    "m39_morphology"          -> (m39_morphology _))

  private val P = "2305843009213693951"
  private def mixSql(k: String, a: Long, b: Long): String =
    s"""CAST((((CAST($k AS HUGEINT) * $a + $b) % $P) *
      |      (((CAST($k AS HUGEINT) * $a + $b) % $P)) % $P * 179424673
      |      + 15485867) % $P AS BIGINT)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q162_consistent_hashing" -> {
      s"""WITH ring AS MATERIALIZED (
        |  SELECT CAST(n.n_nationkey AS BIGINT) AS nk,
        |    ${mixSql("n.n_nationkey * 31 + v.k + 1", RingRow._1, RingRow._2)}
        |      AS pos
        |  FROM nation n CROSS JOIN (SELECT unnest(range(0, 8)) AS k) v),
        |ringarr AS (
        |  SELECT list(struct_pack(pos := pos, nk := nk) ORDER BY pos, nk)
        |    AS ra
        |  FROM ring),
        |keys AS MATERIALIZED (
        |  SELECT c_custkey AS ck,
        |    ${mixSql("c_custkey", KeyRow._1, KeyRow._2)} AS kpos
        |  FROM customer),
        |a1x AS MATERIALIZED (
        |  SELECT k.ck,
        |    coalesce(list_filter(ra, x -> x.pos >= k.kpos)[1].nk, ra[1].nk)
        |      AS owner
        |  FROM keys k, ringarr),
        |c1 AS MATERIALIZED (
        |  SELECT owner, CAST(COUNT(*) AS BIGINT) AS n_before
        |  FROM a1x GROUP BY 1),
        |rem AS MATERIALIZED (
        |  SELECT owner AS removed FROM c1
        |  ORDER BY n_before DESC, owner LIMIT 1),
        |ring2 AS (
        |  SELECT list(struct_pack(pos := r.pos, nk := r.nk)
        |    ORDER BY r.pos, r.nk) AS ra
        |  FROM ring r, rem WHERE r.nk <> rem.removed),
        |a2x AS MATERIALIZED (
        |  SELECT k.ck,
        |    coalesce(list_filter(ra, x -> x.pos >= k.kpos)[1].nk, ra[1].nk)
        |      AS owner
        |  FROM keys k, ring2),
        |c2 AS (SELECT owner, CAST(COUNT(*) AS BIGINT) AS n_after
        |       FROM a2x GROUP BY 1),
        |moved AS (
        |  SELECT a2x.owner, CAST(COUNT(*) AS BIGINT) AS moved_in
        |  FROM a2x JOIN a1x ON a1x.ck = a2x.ck AND a1x.owner <> a2x.owner
        |  GROUP BY 1),
        |base AS MATERIALIZED (
        |  SELECT CAST(nat.n_nationkey AS BIGINT) AS nk, nat.n_name,
        |    rem.removed
        |  FROM nation nat CROSS JOIN rem)
        |SELECT b.n_name,
        |  coalesce(c1.n_before, 0) AS n_before,
        |  coalesce(c2.n_after, 0) AS n_after,
        |  coalesce(m.moved_in, 0) AS moved_in,
        |  CAST(b.nk = b.removed AS BIGINT) AS is_removed
        |FROM base b
        |LEFT JOIN c1 ON c1.owner = b.nk
        |LEFT JOIN c2 ON c2.owner = b.nk
        |LEFT JOIN moved m ON m.owner = b.nk
        |ORDER BY b.n_name""".stripMargin
    },
    "m39_morphology" ->
      """WITH px AS (
        |  SELECT doc_id, i - 1 AS i,
        |    ord(substr(text, CAST(((i - 1) % length(text)) + 1 AS INT), 1))
        |      % 256 AS v
        |  FROM documents CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
        |onb AS (SELECT doc_id, i FROM px WHERE v >= 105),
        |ero AS (
        |  SELECT o.doc_id, o.i FROM onb o
        |  WHERE o.i % 8 > 0 AND o.i % 8 < 7 AND o.i >= 8 AND o.i < 56
        |    AND EXISTS (SELECT 1 FROM onb x
        |      WHERE x.doc_id = o.doc_id AND x.i = o.i - 1)
        |    AND EXISTS (SELECT 1 FROM onb x
        |      WHERE x.doc_id = o.doc_id AND x.i = o.i + 1)
        |    AND EXISTS (SELECT 1 FROM onb x
        |      WHERE x.doc_id = o.doc_id AND x.i = o.i - 8)
        |    AND EXISTS (SELECT 1 FROM onb x
        |      WHERE x.doc_id = o.doc_id AND x.i = o.i + 8)),
        |dil AS (
        |  SELECT DISTINCT p.doc_id, p.i FROM px p JOIN onb o
        |    ON o.doc_id = p.doc_id
        |   AND (o.i = p.i
        |     OR (o.i = p.i - 1 AND p.i % 8 > 0)
        |     OR (o.i = p.i + 1 AND p.i % 8 < 7)
        |     OR o.i = p.i - 8 OR o.i = p.i + 8)),
        |opened AS (
        |  SELECT DISTINCT p.doc_id, p.i FROM px p JOIN ero e
        |    ON e.doc_id = p.doc_id
        |   AND (e.i = p.i
        |     OR (e.i = p.i - 1 AND p.i % 8 > 0)
        |     OR (e.i = p.i + 1 AND p.i % 8 < 7)
        |     OR e.i = p.i - 8 OR e.i = p.i + 8)),
        |agg AS (
        |  SELECT d.doc_id,
        |    (SELECT COUNT(*) FROM onb x WHERE x.doc_id = d.doc_id) AS n_on,
        |    (SELECT COUNT(*) FROM ero x WHERE x.doc_id = d.doc_id)
        |      AS n_eroded,
        |    (SELECT COUNT(*) FROM dil x WHERE x.doc_id = d.doc_id)
        |      AS n_dilated,
        |    (SELECT COUNT(*) FROM opened x WHERE x.doc_id = d.doc_id)
        |      AS n_opened,
        |    (SELECT coalesce(SUM(CAST(1 AS BIGINT) << CAST(x.i AS INT)), 0)
        |     FROM opened x WHERE x.doc_id = d.doc_id AND x.i < 32)
        |      AS opened_lo,
        |    (SELECT coalesce(SUM(CAST(1 AS BIGINT) <<
        |       CAST(x.i - 32 AS INT)), 0)
        |     FROM opened x WHERE x.doc_id = d.doc_id AND x.i >= 32)
        |      AS opened_hi
        |  FROM (SELECT DISTINCT doc_id FROM documents) d)
        |SELECT doc_id, CAST(n_on AS BIGINT) AS n_on,
        |  CAST(n_eroded AS BIGINT) AS n_eroded,
        |  CAST(n_dilated AS BIGINT) AS n_dilated,
        |  CAST(n_opened AS BIGINT) AS n_opened,
        |  CAST(opened_lo AS BIGINT) AS opened_lo,
        |  CAST(opened_hi AS BIGINT) AS opened_hi
        |FROM agg ORDER BY doc_id""".stripMargin)
}
