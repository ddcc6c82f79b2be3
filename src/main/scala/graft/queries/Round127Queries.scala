package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{ExifExprs, ImageExprs, Mp3Exprs}

/** Hundred-twenty-seventh batch — the metadata plane of the two
  * compressed formats ingest pipelines touch first:
  *
  *  - m50: EXIF extraction from real JPEG APP1 segments
  *    ([[graft.functions.ExifCodec]]): a camera-style APP1 (Exif
  *    preamble + embedded little-endian TIFF IFD with Make /
  *    Orientation / DateTime, value offsets relative to the TIFF
  *    header) spliced after SOI; the extractor walks markers to SOS and
  *    parses the IFD, while the baseline JPEG PIXEL decoder must keep
  *    skipping the unknown segment — the same payload also round-trips
  *    through the m42 DC closed form to prove it.
  *  - m51: MP3 container census ([[graft.functions.Mp3Census]]):
  *    ID3v2.3 tag walk (SYNCSAFE 28-bit size, TIT2/TPE1 text frames)
  *    plus the MPEG-1 Layer III frame-header hop (bitrate table,
  *    padding bit, 144000·kbps/44100 frame length) over a VBR stream —
  *    frame count, byte totals, and duration WITHOUT decoding a single
  *    sample. The perceptual decode stays behind the labeled stub; the
  *    container walk is now real bytes.
  *
  * Scale: per-row parse inside codegen, no shuffle until the final
  * order — the ingest-census shape.
  *
  * Reference scope: the reference has no media path
  * (/root/reference/tools.py is CSV/JSON/SQL only); public EXIF 2.x /
  * ID3v2.3 / ISO 11172-3 layouts.
  */
object Round127Queries extends QueryModule {

  // ── m50: EXIF APP1 extraction + pixel-decode coexistence ──────────────

  def m50_exif_extract(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(col("doc_id"),
        ExifExprs.encodeJpegWithExif(col("text"), col("doc_id"), 4, 4, 50)
          .as("jpg"), col("text"))
      .withColumn("x", ExifExprs.extract(col("jpg")))
      .withColumn("px", ImageExprs.decodePixels(col("jpg")))
      .withColumn("sum_v", expr(
        "aggregate(px, 0L, (acc, v) -> acc + CAST(v AS BIGINT))"))
      .select(col("doc_id"),
        col("x.orientation").as("orientation"),
        col("x.make").as("make"),
        col("x.datetime").as("datetime"),
        col("x.app1_bytes").as("app1_bytes"),
        col("x.n_segments").as("n_segments"),
        col("sum_v"))
      .orderBy(col("doc_id"))

  // ── m51: MP3 container census ──────────────────────────────────────────

  def m51_mp3_census(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(col("doc_id"))
      .withColumn("c", Mp3Exprs.census(Mp3Exprs.encodeMp3FromId(col("doc_id"))))
      .select(col("doc_id"),
        col("c.title").as("title"), col("c.artist").as("artist"),
        col("c.id3_bytes").as("id3_bytes"),
        col("c.n_frames").as("n_frames"),
        col("c.audio_bytes").as("audio_bytes"),
        col("c.sum_kbps").as("sum_kbps"),
        col("c.duration_ms").as("duration_ms"))
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m50_exif_extract" -> (m50_exif_extract _),
    "m51_mp3_census"   -> (m51_mp3_census _))

  val oracles: Map[String, String] = Map(
    // planted closed forms: orientation 1+(id mod 8), make graft-cam-<id
    // mod 5>, DateTime spread over six years; APP1 length is the fixed
    // 90-byte layout (2 len + 6 preamble + 82 TIFF); 7 segments = JFIF's
    // APP0/DQT/SOF0/DHT/DHT/SOS + the spliced APP1; sum_v replays the
    // m42 quality-50 DC chain per 8×8 block (64 px each)
    "m50_exif_extract" ->
      """WITH k AS (SELECT unnest(range(0, 16)) AS blk),
        |b AS (
        |  SELECT d.doc_id, k.blk,
        |    ord(substr(d.text, CAST(k.blk % length(d.text) AS INT) + 1, 1))
        |      % 256 AS v
        |  FROM documents d CROSS JOIN k),
        |q AS (
        |  SELECT doc_id, blk,
        |    (CASE WHEN 8 * (v - 128) >= 0
        |       THEN (8 * (v - 128) + 8) // 16
        |       ELSE -((-(8 * (v - 128)) + 8) // 16) END) * 16 AS dq
        |  FROM b),
        |px AS (
        |  SELECT doc_id,
        |    SUM(64 * LEAST(GREATEST(
        |      CAST(FLOOR((dq + 4) / 8.0) AS BIGINT) + 128, 0), 255))
        |      AS sum_v
        |  FROM q GROUP BY doc_id),
        |meta AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 8 AS INT) AS orientation,
        |    'graft-cam-' || CAST(doc_id % 5 AS VARCHAR) AS make,
        |    CAST(2020 + doc_id % 6 AS VARCHAR) || ':' ||
        |      lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0') || ':' ||
        |      lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') || ' ' ||
        |      lpad(CAST((doc_id * 7919 % 86400) // 3600 AS VARCHAR), 2, '0')
        |      || ':' ||
        |      lpad(CAST((doc_id * 7919 % 86400) % 3600 // 60 AS VARCHAR), 2,
        |        '0') || ':' ||
        |      lpad(CAST(doc_id * 7919 % 86400 % 60 AS VARCHAR), 2, '0')
        |      AS datetime
        |  FROM documents)
        |SELECT m.doc_id, m.orientation, m.make, m.datetime,
        |  CAST(90 AS INT) AS app1_bytes,
        |  CAST(7 AS INT) AS n_segments,
        |  CAST(p.sum_v AS BIGINT) AS sum_v
        |FROM meta m JOIN px p ON p.doc_id = m.doc_id
        |ORDER BY m.doc_id""".stripMargin,
    // frame f of doc id: bitrate index 1+((id+f) mod 14) into the public
    // Layer III table, padding (id+f) mod 2, length 144000·kbps//44100 +
    // pad; duration = n·1152·1000//44100; ID3 body = 2 text frames of
    // 10 header + 1 encoding + len(text)
    "m51_mp3_census" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    'track-' || CAST(doc_id % 1000 AS VARCHAR) AS title,
        |    'artist-' || CAST(doc_id % 97 AS VARCHAR) AS artist,
        |    CAST(5 + doc_id % 4 AS INT) AS n_frames
        |  FROM documents),
        |fr AS (
        |  SELECT b.doc_id, f.f,
        |    list_extract([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
        |      224, 256, 320], CAST((b.doc_id + f.f) % 14 AS INT) + 1)
        |      AS kbps,
        |    (b.doc_id + f.f) % 2 AS pad
        |  FROM base b CROSS JOIN (SELECT unnest(range(0, 8)) AS f) f
        |  WHERE f.f < b.n_frames),
        |agg AS (
        |  SELECT doc_id,
        |    SUM((144000 * kbps) // 44100 + pad) AS audio_bytes,
        |    SUM(kbps) AS sum_kbps
        |  FROM fr GROUP BY doc_id)
        |SELECT b.doc_id, b.title, b.artist,
        |  CAST(22 + length(b.title) + length(b.artist) AS INT) AS id3_bytes,
        |  b.n_frames,
        |  CAST(a.audio_bytes AS BIGINT) AS audio_bytes,
        |  CAST(a.sum_kbps AS BIGINT) AS sum_kbps,
        |  CAST(CAST(b.n_frames AS BIGINT) * 1152 * 1000 // 44100 AS BIGINT)
        |    AS duration_ms
        |FROM base b JOIN agg a ON a.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin)
}
