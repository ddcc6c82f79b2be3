package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ImageExprs
import graft.operators.HistQuantile
import graft.streaming.Drain.drain
import SketchSql.textByte

/** Twenty-seventh batch — image TRANSFORMS over real decoded pixels,
  * completing the multimodal family (decode → transform → analyze →
  * stream):
  *
  *  - m7: 2× average-pool downsample — the real resize kernel (round 1's
  *    `resizePlan` computed only the output geometry). Each pooled sample
  *    is the floor-mean of its 2×2 block; the oracle replays the pooling
  *    arithmetic from the raster's closed form, so a block-indexing bug
  *    (off-by-one row stride, channel mix) shifts the sums and fails the
  *    hash. All integer columns.
  *  - m8: per-pixel ITU-R 601 luminance ((299·R + 587·G + 114·B) div
  *    1000, integer basis points) histogrammed through the engine's own
  *    mergeable histogram sketch — the multimodal family joined to the
  *    sketch vocabulary. Per-pixel rows exist only inside the one
  *    aggregate; 16 bins come out.
  *  - e22: m-family streaming twin — per-source pixel stats through
  *    Structured Streaming (stateless decode expression + ONE stateful
  *    aggregation, complete mode), proving the image path composes with
  *    the engine's streaming story like every other operator family.
  *
  * Reference scope: extension beyond the reference surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round27Queries extends QueryModule {

  private def withPpm(df: DataFrame): DataFrame =
    df.withColumn("payload",
      ImageExprs.encodeImageFromText(col("text"), "ppm", 8, 8))

  def m7_image_downsample(s: SparkSession, dir: String): DataFrame =
    withPpm(Tables.load(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        ImageExprs.imageDownsampleStats(col("payload")).as("st"))
      .select(col("doc_id"),
        col("st.width").as("width"), col("st.height").as("height"),
        col("st.n_vals").as("n_vals"),
        col("st.sum_all").as("sum_all"),
        col("st.sum_c0").as("sum_r"), col("st.sum_c1").as("sum_g"),
        col("st.sum_c2").as("sum_b"),
        col("st.row0_sum").as("row0_sum"),
        col("st.px_min").as("px_min"), col("st.px_max").as("px_max"))
      .orderBy(col("doc_id"))

  def m8_luminance_hist(s: SparkSession, dir: String): DataFrame = {
    val lums = withPpm(Tables.load(s, dir, "documents").select(col("text")))
      .withColumn("px", ImageExprs.decodePixels(col("payload")))
      .select(explode(expr(
        "transform(sequence(0, 63), j -> " +
          "(299 * element_at(px, 3*j+1) + 587 * element_at(px, 3*j+2) + " +
          "114 * element_at(px, 3*j+3)) div 1000)")).as("c"))
    HistQuantile.histogram(lums, "c", 16L).orderBy(col("bin"))
  }

  def e22_stream_image_stats(s: SparkSession, dir: String): DataFrame = {
    val stream = Tables.stream(s, dir, "documents")
      .select(col("source"), ImageExprs.imageStats(
        ImageExprs.encodeImageFromText(col("text"), "ppm", 8, 8)).as("st"))
    val agg = stream.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("st.sum_all")).as("px_total"),
      min(col("st.px_min")).as("px_min"),
      max(col("st.px_max")).as("px_max"))
    drain(agg, "complete").orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m7_image_downsample"   -> (m7_image_downsample _),
    "m8_luminance_hist"     -> (m8_luminance_hist _),
    "e22_stream_image_stats" -> (e22_stream_image_stats _))

  /** Pooled sample j (j in 0..47): channel j%3, block ((j//3)%4, j//12)
    * of the 8×8 source — the floor-mean of the 2×2 block. */
  private def pooled(j: String): String = {
    def p(y: String, x: String, c: String) = textByte(s"3*(8*($y) + ($x)) + ($c)")
    val (c, bx, by) = (s"($j)%3", s"(($j)//3)%4", s"($j)//12")
    s"""(${p(s"2*($by)", s"2*($bx)", c)} +
       | ${p(s"2*($by)", s"2*($bx)+1", c)} +
       | ${p(s"2*($by)+1", s"2*($bx)", c)} +
       | ${p(s"2*($by)+1", s"2*($bx)+1", c)}) // 4""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "m7_image_downsample" ->
      s"""WITH pl AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 48), j -> ${pooled("j")}) AS p
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
        |  CAST(48 AS BIGINT) AS n_vals,
        |  CAST(list_sum(p) AS BIGINT) AS sum_all,
        |  CAST(list_sum(list_transform(range(0, 16), t -> p[CAST(3*t+1 AS INT)])) AS BIGINT) AS sum_r,
        |  CAST(list_sum(list_transform(range(0, 16), t -> p[CAST(3*t+2 AS INT)])) AS BIGINT) AS sum_g,
        |  CAST(list_sum(list_transform(range(0, 16), t -> p[CAST(3*t+3 AS INT)])) AS BIGINT) AS sum_b,
        |  CAST(list_sum(list_transform(range(1, 13), t -> p[CAST(t AS INT)])) AS BIGINT) AS row0_sum,
        |  CAST(list_min(p) AS INT) AS px_min,
        |  CAST(list_max(p) AS INT) AS px_max
        |FROM pl ORDER BY doc_id""".stripMargin,
    "m8_luminance_hist" ->
      s"""WITH lum AS (
        |  SELECT unnest(list_transform(range(0, 64), j ->
        |    (299*${textByte("3*j")} + 587*${textByte("3*j+1")} + 114*${textByte("3*j+2")}) // 1000)) AS l
        |  FROM documents)
        |SELECT CAST(l // 16 AS BIGINT) AS bin, COUNT(*) AS cnt
        |FROM lum GROUP BY 1 ORDER BY 1""".stripMargin,
    "e22_stream_image_stats" ->
      s"""WITH f AS (
        |  SELECT source,
        |    CAST(list_sum(list_transform(range(0, 192), i -> ${textByte("i")})) AS BIGINT) AS s_all,
        |    CAST(list_min(list_transform(range(0, 192), i -> ${textByte("i")})) AS INT) AS mn,
        |    CAST(list_max(list_transform(range(0, 192), i -> ${textByte("i")})) AS INT) AS mx
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(s_all) AS BIGINT) AS px_total,
        |  MIN(mn) AS px_min, MAX(mx) AS px_max
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)
}
