package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{JpegCensusExprs, JpegExprs}

/** Hundred-thirty-seventh batch — the progressive-JPEG census (r12
  * verdict ask #7): real crawled corpora are full of progressive JFIF,
  * which the baseline pixel decoder rightly refuses (JpegCodec.scala:
  * SOF2 → loud error). An ingest pipeline must COUNT and characterize
  * those files instead of erroring the decode column, so m54 runs the
  * marker-walk census ([[graft.functions.JpegCensus]]) over a mixed
  * corpus: even doc_ids carry REAL baseline JPEGs from the round-12
  * encoder (the census walks genuine SOF0/DHT/SOS/entropy bytes), odd
  * doc_ids carry the deterministic SOF2 fixture with a spec-shaped
  * progressive scan script (interleaved DC-first scan + per-component
  * non-interleaved AC band scans partitioning 1..63). The census reads
  * marker structure only — never entropy payloads — and the oracle
  * replays every field closed-form, including the spectral-coverage
  * invariant Σ(Se−Ss+1)·Ns = 64·Nf that separates a complete
  * progressive script from a truncated one.
  *
  * Scale: per-row encode+walk inside whole-stage codegen, no shuffle
  * until the final order — the m51/m52 ingest-census shape.
  *
  * Reference scope: the reference has no media path
  * (/root/reference/tools.py is CSV/JSON/SQL only); ITU-T T.81 §B/§G
  * marker layout.
  */
object Round137Queries extends QueryModule {

  // ── m54: baseline + progressive JPEG ingest census ────────────────────

  def m54_jpeg_progressive_census(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          JpegExprs.encodeJpegGrayBlocks(col("text"), 4, 4, 50))
          .otherwise(JpegCensusExprs.progressiveFixture(col("doc_id")))
          .as("jpg"))
      .withColumn("c", JpegCensusExprs.census(col("jpg")))
      .select(col("doc_id"),
        col("c.is_progressive").as("is_progressive"),
        col("c.sof_marker").as("sof_marker"),
        col("c.width").as("width"),
        col("c.height").as("height"),
        col("c.n_components").as("n_components"),
        col("c.n_scans").as("n_scans"),
        col("c.n_dqt").as("n_dqt"),
        col("c.n_dht").as("n_dht"),
        col("c.n_app").as("n_app"),
        (col("c.coverage") === col("c.n_components") * 64)
          .as("coverage_complete"),
        col("c.has_eoi").as("has_eoi"))
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m54_jpeg_progressive_census" -> (m54_jpeg_progressive_census _))

  val oracles: Map[String, String] = Map(
    // even ids: the m42 baseline gray fixture — 4×4 blocks of 8×8 px,
    // JFIF APP0 + 1 DQT + SOF0 + 2 DHT + 1 interleaved full scan.
    // odd ids: the SOF2 fixture — dims/scan script in closed form.
    "m54_jpeg_progressive_census" ->
      """SELECT doc_id,
        |  doc_id % 2 = 1 AS is_progressive,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 192 ELSE 194 END AS INT)
        |    AS sof_marker,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 32
        |    ELSE 8 * (1 + doc_id % 8) END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 32
        |    ELSE 8 * (1 + (doc_id // 3) % 6) END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INT)
        |    AS n_components,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1
        |    ELSE 1 + 3 * (1 + (doc_id // 2) % 2) END AS INT) AS n_scans,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INT) AS n_dqt,
        |  CAST(2 AS INT) AS n_dht,
        |  CAST(1 AS INT) AS n_app,
        |  TRUE AS coverage_complete,
        |  TRUE AS has_eoi
        |FROM documents ORDER BY doc_id""".stripMargin)
}
