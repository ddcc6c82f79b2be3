package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.Tables
import graft.functions.VideoExprs
import SketchSql.textByte

/** Twenty-ninth batch — the video leg goes real (Y4M/YUV4MPEG2), which
  * retires the engine's last stubbed media decoder:
  *
  *  - m11: per-document Y4M decode stats — four 8×8 4:2:0 frames per
  *    payload; tagged-header parsing is exercised adversarially (docs
  *    with even ids OMIT the C tag, pinning the spec's C420 default;
  *    payload length differs by exactly the absent ` C420`, so
  *    `n_payload_bytes` gates the header layout too). `y_sum_f0` pins
  *    frame ORDER, `uv_sum` pins the luma/chroma plane boundary.
  *  - m12: frame sampling over REAL decoded frames — per-frame luma
  *    sums as an array column (`y4m_frame_y_sums`), stride-2 selection
  *    downstream with plain array/filter functions. Round 1's
  *    `sampleFrameIndexes` computed only the index bookkeeping; this is
  *    the actual frame signal.
  *
  * Reference scope: extension beyond the reference surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round29Queries extends QueryModule {

  private val W = 8; private val H = 8; private val NFrames = 4
  private val FrameSize = W * H + 2 * (W / 2) * (H / 2) // 96
  private val YSize = W * H // 64

  private def withY4m(df: DataFrame): DataFrame =
    df.withColumn("payload",
      when(col("doc_id") % 2 === 0,
        VideoExprs.encodeY4mFromText(col("text"), W, H, NFrames, omitC = true))
        .otherwise(
          VideoExprs.encodeY4mFromText(col("text"), W, H, NFrames, omitC = false)))

  def m11_video_stats(s: SparkSession, dir: String): DataFrame =
    withY4m(Tables.load(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        length(col("payload")).cast(IntegerType).as("n_payload_bytes"),
        VideoExprs.videoStats(col("payload")).as("st"))
      .select(col("doc_id"), col("n_payload_bytes"),
        col("st.width").as("width"), col("st.height").as("height"),
        col("st.fps_num").as("fps_num"), col("st.fps_den").as("fps_den"),
        col("st.n_frames").as("n_frames"),
        col("st.y_sum_all").as("y_sum_all"),
        col("st.y_sum_f0").as("y_sum_f0"),
        col("st.uv_sum").as("uv_sum"),
        col("st.y_min").as("y_min"), col("st.y_max").as("y_max"))
      .orderBy(col("doc_id"))

  def m12_frame_sample(s: SparkSession, dir: String): DataFrame =
    withY4m(Tables.load(s, dir, "documents").select(col("doc_id"), col("text")))
      .withColumn("fs", VideoExprs.frameYSums(col("payload")))
      .select(col("doc_id"),
        posexplode(col("fs")).as(Seq("frame_idx", "y_sum")))
      .filter(col("frame_idx") % 2 === 0) // stride-2 frame sampling
      .select(col("doc_id"), col("frame_idx").cast(IntegerType).as("frame_idx"),
        col("y_sum"))
      .orderBy(col("doc_id"), col("frame_idx"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m11_video_stats"  -> (m11_video_stats _),
    "m12_frame_sample" -> (m12_frame_sample _))

  // header bytes: "YUV4MPEG2 W8 H8 F25:1 Ip A1:1" (30 incl. \n) + " C420" (5)
  private val HdrNoC = 30
  private val HdrC = 35
  private val FramesBytes = NFrames * (6 + FrameSize) // "FRAME\n" + planes

  val oracles: Map[String, String] = Map(
    "m11_video_stats" ->
      s"""SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN ${HdrNoC + FramesBytes}
        |    ELSE ${HdrC + FramesBytes} END AS INT) AS n_payload_bytes,
        |  CAST($W AS INT) AS width, CAST($H AS INT) AS height,
        |  CAST(25 AS INT) AS fps_num, CAST(1 AS INT) AS fps_den,
        |  CAST($NFrames AS INT) AS n_frames,
        |  CAST(list_sum(list_transform(range(0, ${NFrames * YSize}), k ->
        |    ${textByte(s"$FrameSize*(k//$YSize) + (k%$YSize)")})) AS BIGINT) AS y_sum_all,
        |  CAST(list_sum(list_transform(range(0, $YSize), i -> ${textByte("i")}))
        |    AS BIGINT) AS y_sum_f0,
        |  CAST(list_sum(list_transform(range(0, ${NFrames * (FrameSize - YSize)}), k ->
        |    ${textByte(s"$FrameSize*(k//${FrameSize - YSize}) + $YSize + (k%${FrameSize - YSize})")})) AS BIGINT) AS uv_sum,
        |  CAST(list_min(list_transform(range(0, ${NFrames * YSize}), k ->
        |    ${textByte(s"$FrameSize*(k//$YSize) + (k%$YSize)")})) AS INT) AS y_min,
        |  CAST(list_max(list_transform(range(0, ${NFrames * YSize}), k ->
        |    ${textByte(s"$FrameSize*(k//$YSize) + (k%$YSize)")})) AS INT) AS y_max
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m12_frame_sample" ->
      s"""SELECT doc_id, CAST(t.f AS INT) AS frame_idx,
        |  CAST(list_sum(list_transform(range(0, $YSize), i ->
        |    ${textByte(s"$FrameSize*t.f + i")})) AS BIGINT) AS y_sum
        |FROM documents CROSS JOIN (VALUES (0), (2)) AS t(f)
        |ORDER BY doc_id, frame_idx""".stripMargin)
}
