package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Fifty-third batch — the cheap pre-dedup gate:
  *
  *  - d31: Bloom dedup gate — before an incoming batch pays for full
  *    dedup, probe each document's content fingerprint against the
  *    CORPUS's Bloom cells (kilobytes shipped to the ingest edge, vs a
  *    join against the corpus). No false negatives by construction —
  *    a true duplicate always flags — and the false-positive flags are
  *    deterministic cell arithmetic both engines replay, with the exact
  *    membership anchor alongside. The fast path in front of d1/d9's
  *    exact machinery.
  *
  * Reference scope: extension beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round53Queries extends QueryModule {

  def d31_bloom_dedup_gate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"),
      expr("CAST(conv(substring(md5(lower(regexp_replace(trim(text), " +
        "'\\\\s+', ' '))), 1, 15), 16, 10) AS BIGINT)").as("k"))
    val corpus = docs.filter(col("doc_id") % 2 === 0).localCheckpoint()
    val batch = docs.filter(col("doc_id") % 2 =!= 0).localCheckpoint()
    val cells = CountMin.sketch(corpus.select(col("k")),
      CountMin.DefaultFamily, w = 1024)
    val gated = CountMin.membership(batch.select(col("k")), cells,
      CountMin.DefaultFamily, w = 1024)
    val exact = corpus.select(col("k")).distinct()
      .withColumn("in_corpus", lit(true))
    batch.join(gated, "k")
      .join(exact, Seq("k"), "left")
      .select(col("doc_id"), col("bloom_hit"),
        coalesce(col("in_corpus"), lit(false)).as("actual_dup"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d31_bloom_dedup_gate" -> (d31_bloom_dedup_gate _))

  val oracles: Map[String, String] = Map(
    "d31_bloom_dedup_gate" ->
      s"""WITH fp AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(lower(regexp_replace(trim(text),
        |      '\\s+', ' ', 'g'))), 1, 15)) AS BIGINT) AS k
        |  FROM documents),
        |corpus AS (SELECT * FROM fp WHERE doc_id % 2 = 0),
        |batch AS (SELECT * FROM fp WHERE doc_id % 2 <> 0),
        |fam(i, a, b) AS (VALUES (0, 1299709, 104729),
        |                        (1, 15485863, 1999),
        |                        (2, 32452843, 777767)),
        |cells AS (
        |  SELECT DISTINCT fam.i,
        |    ${SketchSql.bucket("corpus.k", "fam.a", "fam.b", 1024)} AS b
        |  FROM corpus CROSS JOIN fam),
        |probe AS (
        |  SELECT batch.doc_id, batch.k, fam.i,
        |    ${SketchSql.bucket("batch.k", "fam.a", "fam.b", 1024)} AS b
        |  FROM batch CROSS JOIN fam),
        |hits AS (
        |  SELECT p.doc_id, p.k,
        |    CAST(SUM(CASE WHEN c.i IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_set
        |  FROM probe p LEFT JOIN cells c ON c.i = p.i AND c.b = p.b
        |  GROUP BY 1, 2)
        |SELECT h.doc_id, h.n_set = 3 AS bloom_hit,
        |  h.k IN (SELECT k FROM corpus) AS actual_dup
        |FROM hits h ORDER BY h.doc_id""".stripMargin)
}
