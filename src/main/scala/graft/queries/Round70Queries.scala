package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.Tables
import graft.functions.ImageExprs
import SketchSql.textByte

/** Seventieth batch — query-by-image serving:
  *
  *  - m20: perceptual-hash image retrieval — d23's band machinery turned
  *    into the SERVING shape: five query images (one-character edits of
  *    docs 0-4, the planted near-dup regime) probe the corpus band
  *    index, candidates materialize only where a 16-bit aHash band
  *    matches (never all pairs), and exact popcount Hamming ranks the
  *    hits — top-3 per query, ties by candidate id. At 100 TB the
  *    corpus band table is the persisted artifact (d15's postings
  *    pattern) and each query touches ≤4 buckets; every stage is
  *    integer-exact and the oracle replays hash, banding, candidates
  *    and ranking from the raster's closed form.
  *
  * Reference scope: extension beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round70Queries extends QueryModule {

  def m20_phash_retrieval(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    def withBands(df: DataFrame): DataFrame = df
      .withColumn("bands", ImageExprs.aHashBands(
        ImageExprs.encodeImageFromText(col("text"), "pgm", 8, 8)))
      .select(col("doc_id"), col("bands"))
    val corpus = withBands(docs).localCheckpoint(true)
    val queries5 = withBands(docs.filter(col("doc_id") < 5)
      .select(col("doc_id"),
        expr("concat(substring(text, 1, 5), 'q', substring(text, 7))")
          .as("text")))
      .select(col("doc_id").as("query_id"), col("bands").as("qbands"))
    val qExp = queries5.select(col("query_id"),
      posexplode(col("qbands")).as(Seq("band_idx", "band_val")))
    val cExp = corpus.select(col("doc_id").as("cand_id"),
      posexplode(col("bands")).as(Seq("band_idx", "band_val")))
    val cand = qExp.join(cExp, Seq("band_idx", "band_val"))
      .select(col("query_id"), col("cand_id")).distinct()
    val ranked = cand
      .join(queries5, "query_id")
      .join(corpus.select(col("doc_id").as("cand_id"),
        col("bands").as("cbands")), "cand_id")
      .withColumn("hamming", expr(
        "aggregate(zip_with(qbands, cbands, (x, y) -> bit_count(x ^ y)), " +
          "0, (acc, h) -> acc + h)").cast(IntegerType))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("hamming"), col("cand_id"))).cast(LongType))
      .filter(col("rk") <= 3)
    ranked.select(col("query_id"), col("rk"), col("cand_id"), col("hamming"))
      .orderBy(col("query_id"), col("rk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m20_phash_retrieval" -> (m20_phash_retrieval _))

  val oracles: Map[String, String] = Map(
    "m20_phash_retrieval" ->
      s"""WITH qdocs AS (
        |  SELECT doc_id AS query_id,
        |    concat(substr(text, 1, 5), 'q', substr(text, 7)) AS text
        |  FROM documents WHERE doc_id < 5),
        |qpx AS (
        |  SELECT query_id,
        |    list_transform(range(0, 64), i -> ${textByte("i")}) AS p
        |  FROM qdocs),
        |qwm AS (SELECT query_id, p, CAST(list_sum(p) AS BIGINT) // 64
        |          AS mean FROM qpx),
        |qbands AS (
        |  SELECT query_id, CAST(t.b AS INT) AS band_idx,
        |    CAST(list_sum(list_transform(range(0, 16), j ->
        |      CASE WHEN p[CAST(16*t.b + j + 1 AS INT)] >= mean
        |        THEN (1 << CAST(j AS INT)) ELSE 0 END)) AS INT) AS band_val
        |  FROM qwm CROSS JOIN (VALUES (0), (1), (2), (3)) t(b)),
        |cpx AS (
        |  SELECT doc_id AS cand_id,
        |    list_transform(range(0, 64), i -> ${textByte("i")}) AS p
        |  FROM documents),
        |cwm AS (SELECT cand_id, p, CAST(list_sum(p) AS BIGINT) // 64
        |          AS mean FROM cpx),
        |cbands AS (
        |  SELECT cand_id, CAST(t.b AS INT) AS band_idx,
        |    CAST(list_sum(list_transform(range(0, 16), j ->
        |      CASE WHEN p[CAST(16*t.b + j + 1 AS INT)] >= mean
        |        THEN (1 << CAST(j AS INT)) ELSE 0 END)) AS INT) AS band_val
        |  FROM cwm CROSS JOIN (VALUES (0), (1), (2), (3)) t(b)),
        |cand AS (
        |  SELECT DISTINCT q.query_id, c.cand_id
        |  FROM qbands q JOIN cbands c
        |    ON q.band_idx = c.band_idx AND q.band_val = c.band_val),
        |qbl AS (SELECT query_id, list(band_val ORDER BY band_idx) AS bv
        |        FROM qbands GROUP BY query_id),
        |cbl AS (SELECT cand_id, list(band_val ORDER BY band_idx) AS bv
        |        FROM cbands GROUP BY cand_id),
        |ham AS (
        |  SELECT cand.query_id, cand.cand_id,
        |    CAST(list_sum(list_transform(range(1, 5), k ->
        |      bit_count(xor(x.bv[CAST(k AS INT)], y.bv[CAST(k AS INT)]))))
        |      AS INT) AS hamming
        |  FROM cand
        |  JOIN qbl x ON x.query_id = cand.query_id
        |  JOIN cbl y ON y.cand_id = cand.cand_id),
        |rk AS (
        |  SELECT query_id, cand_id, hamming,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY hamming, cand_id) AS rk
        |  FROM ham)
        |SELECT query_id, rk, cand_id, hamming
        |FROM rk WHERE rk <= 3
        |ORDER BY query_id, rk""".stripMargin)
}
