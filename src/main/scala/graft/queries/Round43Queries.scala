package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.AudioExprs

/** Forty-third batch — audio temporal signal and contamination lineage:
  *
  *  - m15: short-time energy / voice-activity gate over decoded WAV
  *    samples — per-frame Σs² (the new `audio_frame_energies` codegen'd
  *    expression) against a fixed activity threshold; the silence-trim
  *    decision an audio training pipeline applies per clip, exact
  *    integers end to end.
  *  - t29: copy DIRECTION between sources — for every cross-source
  *    exact near-dup pair, the lower doc_id (ingest order) is the
  *    origin; the directed (origin → copy) census tells curation WHO
  *    copies WHOM, one level finer than d26's symmetric overlap matrix
  *    and d28's purity flags.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round43Queries extends QueryModule {

  private val FrameLen = 8
  private val ActiveThreshold = 2000000000L // ~70% of the E[Σs²] scale

  // ── m15: 64 samples → 8 frames of 8; one decode per document. ────────
  def m15_audio_vad(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(col("doc_id"),
        AudioExprs.frameEnergies(
          AudioExprs.encodeWavFromText(col("text"), sampleRate = 16000,
            n = 64), FrameLen).as("fe"))
      .select(col("doc_id"),
        expr("CAST(size(fe) AS BIGINT)").as("n_frames"),
        expr(s"CAST(size(filter(fe, e -> e >= $ActiveThreshold)) AS BIGINT)")
          .as("n_active"),
        expr("aggregate(fe, CAST(0 AS BIGINT), (a, e) -> GREATEST(a, e))")
          .as("max_energy"))
      .withColumn("active_bp", expr("n_active * 10000 div n_frames"))
      .orderBy(col("doc_id"))

  // ── t29: cross-source exact pairs, oriented by ingest order. ─────────
  def t29_copy_direction(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.operators.Dedup.ngramJaccard(
      Tables.load(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.5)
    val src = Tables.load(s, dir, "documents").select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"),
        col("source").as("origin_src")), "id_a")
      .join(src.select(col("doc_id").as("id_b"),
        col("source").as("copy_src")), "id_b")
      .filter(col("origin_src") =!= col("copy_src"))
      .groupBy(col("origin_src"), col("copy_src"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("origin_src"), col("copy_src"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m15_audio_vad"      -> (m15_audio_vad _),
    "t29_copy_direction" -> (t29_copy_direction _))

  /** WAV fixture sample i (0-based): ((cp·257) mod 65536) − 32768 with
    * cp = codepoint of text[i mod len] — m10's closed form. */
  private def w(i: String): String =
    s"(((ord(substr(text, CAST((($i) % length(text)) + 1 AS INT), 1)) " +
      s"* 257) % 65536) - 32768)"

  val oracles: Map[String, String] = Map(
    "m15_audio_vad" ->
      s"""WITH fe AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 8), f ->
        |      CAST(list_sum(list_transform(range(0, $FrameLen), j ->
        |        CAST(${w(s"$FrameLen*f + j")} AS BIGINT) *
        |        CAST(${w(s"$FrameLen*f + j")} AS BIGINT))) AS BIGINT))
        |      AS e
        |  FROM documents)
        |SELECT doc_id, CAST(len(e) AS BIGINT) AS n_frames,
        |  CAST(len(list_filter(e, x -> x >= $ActiveThreshold)) AS BIGINT)
        |    AS n_active,
        |  CAST(list_max(e) AS BIGINT) AS max_energy,
        |  CAST(len(list_filter(e, x -> x >= $ActiveThreshold)) AS BIGINT)
        |    * 10000 // CAST(len(e) AS BIGINT) AS active_bp
        |FROM fe ORDER BY doc_id""".stripMargin,
    "t29_copy_direction" ->
      s"""WITH pairs AS (
        |  SELECT * FROM (
        |${ExtensionQueries.exactJaccardSql}
        |  ))
        |SELECT da.source AS origin_src, db.source AS copy_src,
        |  COUNT(*) AS n_pairs
        |FROM pairs p
        |JOIN documents da ON da.doc_id = p.id_a
        |JOIN documents db ON db.doc_id = p.id_b
        |WHERE da.source <> db.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
