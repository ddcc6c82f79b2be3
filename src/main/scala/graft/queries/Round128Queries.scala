package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Mp3Exprs
import graft.streaming.Drain.drain

/** Hundred-twenty-eighth batch — the metadata-plane census moves onto
  * the stream:
  *
  *  - e39: streaming twin of m51 — MP3 container census AT INGEST
  *    (ID3v2.3 walk + Layer III frame-header hop per arriving payload),
  *    rolled up per source in complete mode. This is the shape a media
  *    crawl actually runs: per-file container stats scored the moment
  *    a payload lands, aggregated into the per-feed dashboard the
  *    operator watches; batch parity is oracle-proven row-for-row
  *    against the same closed forms m51 pins per document.
  *
  * Scale: the census is per-row inside the micro-batch (no state); the
  * only stateful piece is the ≤20-group running aggregate —
  * constant-size state per source, watermark-free by design (complete
  * mode over a bounded key domain). The memory sink is the adjudicated
  * test vehicle (SCALE.md Known trade-offs); production drains to
  * files/Kafka with identical plan shapes.
  */
object Round128Queries extends QueryModule {

  // ── e39: per-source MP3 container census on the stream ────────────────

  def e39_stream_mp3_census(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val raw = Tables.stream(s, dir, "documents", docs.schema)
    val agg = raw
      .withColumn("c", Mp3Exprs.census(Mp3Exprs.encodeMp3FromId(col("doc_id"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tracks"),
        sum(col("c.n_frames").cast("long")).as("n_frames"),
        sum(col("c.audio_bytes")).as("audio_bytes"),
        sum(col("c.duration_ms")).as("duration_ms"),
        max(col("c.sum_kbps")).as("max_kbps_sum"))
    drain(agg, "complete").orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e39_stream_mp3_census" -> (e39_stream_mp3_census _))

  val oracles: Map[String, String] = Map(
    // the m51 closed forms (bitrate walk, frame lengths, durations),
    // grouped per source — proving stream/batch parity of the census
    "e39_stream_mp3_census" ->
      """WITH base AS (
        |  SELECT doc_id, source,
        |    CAST(5 + doc_id % 4 AS INT) AS n_frames
        |  FROM documents),
        |fr AS (
        |  SELECT b.doc_id, b.source, b.n_frames,
        |    list_extract([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
        |      224, 256, 320], CAST((b.doc_id + f.f) % 14 AS INT) + 1)
        |      AS kbps,
        |    (b.doc_id + f.f) % 2 AS pad
        |  FROM base b CROSS JOIN (SELECT unnest(range(0, 8)) AS f) f
        |  WHERE f.f < b.n_frames),
        |per_doc AS (
        |  SELECT doc_id, source, n_frames,
        |    SUM((144000 * kbps) // 44100 + pad) AS audio_bytes,
        |    SUM(kbps) AS sum_kbps,
        |    CAST(n_frames AS BIGINT) * 1152 * 1000 // 44100 AS duration_ms
        |  FROM fr GROUP BY doc_id, source, n_frames)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_tracks,
        |  CAST(SUM(n_frames) AS BIGINT) AS n_frames,
        |  CAST(SUM(audio_bytes) AS BIGINT) AS audio_bytes,
        |  CAST(SUM(duration_ms) AS BIGINT) AS duration_ms,
        |  CAST(MAX(sum_kbps) AS BIGINT) AS max_kbps_sum
        |FROM per_doc GROUP BY source ORDER BY source""".stripMargin)
}
