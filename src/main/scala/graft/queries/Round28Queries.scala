package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.Tables
import graft.functions.{AudioExprs, ImageExprs}
import SketchSql.textByte

/** Twenty-eighth batch — poison-pill tolerance and the REAL audio leg:
  *
  *  - m9: corrupt-payload tolerance, the production posture for media at
  *    scale (a bad blob 90 TB into the corpus must be dropped and
  *    counted, not kill the job). Every 7th document's P5 PGM payload is
  *    deterministically truncated mid-header; `try_image_stats` yields
  *    NULL for those, and the per-source rollup counts decoded vs
  *    rejected and sums pixel totals over the survivors. The oracle
  *    replays the corruption rule, so both the DROP and the KEEP sides
  *    are hash-gated. Also the P5 grayscale path's first oracle query.
  *  - m10: WAV/RIFF 16-bit mono PCM decode ([[graft.functions.AudioCodec]])
  *    — chunk walking past a planted LIST chunk, little-endian signed
  *    samples — with integer sample statistics per document: Σ|s|, Σs²,
  *    zero-crossing count (order-sensitive: endianness or chunk-walk
  *    bugs break it even when magnitude sums survive), min/max. With the
  *    image codec, this leaves video as the engine's only stubbed
  *    decoder.
  *
  * Reference scope: extension beyond the reference surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round28Queries extends QueryModule {

  def m9_corrupt_tolerance(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    docs
      .withColumn("payload",
        ImageExprs.encodeImageFromText(col("text"), "pgm", 8, 8))
      // deterministic poison pills: truncate every 7th doc mid-header
      .withColumn("payload",
        when(col("doc_id") % 7 === 0, expr("substring(payload, 1, 9)"))
          .otherwise(col("payload")))
      .withColumn("st", ImageExprs.tryImageStats(col("payload")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("st")).as("n_decoded"),
        sum(when(col("st").isNull, 1L).otherwise(0L)).as("n_rejected"),
        sum(col("st.sum_all")).as("px_total"))
      .orderBy(col("source"))
  }

  def m10_audio_features(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      .withColumn("payload",
        AudioExprs.encodeWavFromText(col("text"), sampleRate = 16000, n = 64))
      .select(col("doc_id"),
        length(col("payload")).cast(IntegerType).as("n_payload_bytes"),
        AudioExprs.audioStats(col("payload")).as("st"))
      .select(col("doc_id"), col("n_payload_bytes"),
        col("st.sample_rate").as("sample_rate"),
        col("st.n_samples").as("n_samples"),
        col("st.sum_abs").as("sum_abs"),
        col("st.energy").as("energy"),
        col("st.zero_crossings").as("zero_crossings"),
        col("st.s_min").as("s_min"), col("st.s_max").as("s_max"))
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m9_corrupt_tolerance" -> (m9_corrupt_tolerance _),
    "m10_audio_features"   -> (m10_audio_features _))

  /** WAV fixture sample i: ((cp·257) mod 65536) − 32768, signed. */
  private def smp(i: String): String =
    s"(((ord(substr(text, CAST((($i) % length(text)) + 1 AS INT), 1)) * 257) % 65536) - 32768)"

  val oracles: Map[String, String] = Map(
    "m9_corrupt_tolerance" ->
      s"""WITH f AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 7 = 0 THEN NULL ELSE
        |      CAST(list_sum(list_transform(range(0, 64), i -> ${textByte("i")}))
        |        AS BIGINT) END AS s_all
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  COUNT(s_all) AS n_decoded,
        |  CAST(SUM(CASE WHEN s_all IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_rejected,
        |  CAST(SUM(s_all) AS BIGINT) AS px_total
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "m10_audio_features" ->
      s"""SELECT doc_id,
        |  CAST(184 AS INT) AS n_payload_bytes,
        |  CAST(16000 AS INT) AS sample_rate,
        |  CAST(64 AS BIGINT) AS n_samples,
        |  CAST(list_sum(list_transform(range(0, 64), i -> abs(${smp("i")})))
        |    AS BIGINT) AS sum_abs,
        |  CAST(list_sum(list_transform(range(0, 64), i ->
        |    CAST(${smp("i")} AS BIGINT) * ${smp("i")})) AS BIGINT) AS energy,
        |  CAST(list_sum(list_transform(range(0, 63), i ->
        |    CASE WHEN (${smp("i")} >= 0) <> (${smp("i + 1")} >= 0)
        |      THEN 1 ELSE 0 END)) AS BIGINT) AS zero_crossings,
        |  CAST(list_min(list_transform(range(0, 64), i -> ${smp("i")}))
        |    AS INT) AS s_min,
        |  CAST(list_max(list_transform(range(0, 64), i -> ${smp("i")}))
        |    AS INT) AS s_max
        |FROM documents ORDER BY doc_id""".stripMargin)
}
