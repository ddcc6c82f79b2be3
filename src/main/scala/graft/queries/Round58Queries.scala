package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Fifty-eighth batch — vision patch extraction and graph mixing:
  *
  *  - m16: ViT-style patch pooling — the preprocessing a vision
  *    transformer runs before embedding: the decoded 8×8 grayscale
  *    raster (the m5/d23 PGM round-trip, real header+raster parse via
  *    the codegen'd decode_pixels) splits into sixteen 2×2 patches, each
  *    reduced to its integer sum and floor-mean. Expression-only per
  *    row (decode + 4 element_at per patch), zero shuffle — at 100 TB
  *    patchification rides the scan like every other m-query. The
  *    oracle replays the raster's closed form (sample i =
  *    ord(text[i mod len]) mod 256), so a patch-indexing bug (row
  *    stride, base offset) shifts every sum and fails the hash.
  *  - q106: degree assortativity (Newman '02, public) of the
  *    co-purchase graph — do high-degree parts co-occur with other
  *    high-degree parts? Pearson correlation of endpoint degrees over
  *    edges, cross-multiplied onto the integer lattice (×4M to clear
  *    the /2 and /M fractions) so both engines compute the identical
  *    BIGINT numerator/denominator; the final basis-point ratio is a
  *    plain integer division — num4 may be negative (disassortative
  *    graphs), and both engines truncate integer division toward zero
  *    (Spark `div` and DuckDB's integer `//` alike; only DuckDB's
  *    FLOAT `//` floors). One degree aggregate + one broadcast join
  *    back to edges.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round58Queries extends QueryModule {

  def m16_image_patches(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ImageExprs
    val px = Tables.load(s, dir, "documents").select(col("doc_id"),
        ImageExprs.encodeImageFromText(col("text"), "pgm", 8, 8)
          .as("payload"))
      .select(col("doc_id"), ImageExprs.decodePixels(col("payload")).as("px"))
    px.select(col("doc_id"), col("px"),
        explode(sequence(lit(0), lit(15))).as("p"))
      .withColumn("patch_row", expr("cast(p div 4 as bigint)"))
      .withColumn("patch_col", expr("cast(p % 4 as bigint)"))
      // raster base of the patch's top-left pixel: (2·pr)·8 + 2·pc
      .withColumn("base", expr("cast(patch_row * 16 + patch_col * 2 as int)"))
      .withColumn("p_sum", expr(
        """cast(element_at(px, base + 1) + element_at(px, base + 2)
          |   + element_at(px, base + 9) + element_at(px, base + 10)
          | as bigint)""".stripMargin))
      .select(col("doc_id"), col("patch_row"), col("patch_col"),
        col("p_sum"), expr("p_sum div 4").as("p_mean"))
      .orderBy(col("doc_id"), col("patch_row"), col("patch_col"))
  }

  def q106_assortativity(s: SparkSession, dir: String): DataFrame = {
    val e = Round6Queries.copurchaseEdges(s, dir).localCheckpoint(true)
    val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val sums = e
      .join(deg.select(col("u"), col("deg").as("dj")), "u")
      .join(deg.select(col("u").as("v"), col("deg").as("dk")), "v")
      .agg(count(lit(1)).as("n_edges"),
        sum(col("dj") * col("dk")).as("sum_jk"),
        sum(col("dj") + col("dk")).as("sum_j_plus_k"),
        sum(col("dj") * col("dj") + col("dk") * col("dk")).as("sum_j2k2"))
    sums
      .withColumn("num4", expr(
        "4 * n_edges * sum_jk - sum_j_plus_k * sum_j_plus_k"))
      .withColumn("den4", expr(
        "2 * n_edges * sum_j2k2 - sum_j_plus_k * sum_j_plus_k"))
      .select(col("n_edges"), col("sum_jk"), col("sum_j_plus_k"),
        col("sum_j2k2"), col("num4"), col("den4"),
        // both engines truncate toward zero on integers (Spark `div`,
        // DuckDB integer `//` — measured -3 // 2 = -1), so a negative
        // coefficient agrees without any floor emulation
        expr("num4 * 10000 div den4").as("r_bp"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m16_image_patches"   -> (m16_image_patches _),
    "q106_assortativity"  -> (q106_assortativity _))

  /** Closed-form raster sample `i` of the PGM round-trip (the m5 oracle
    * convention): ord(text[i mod len]) mod 256. */
  private def pxSql(i: String): String =
    s"ord(substr(text, CAST((($i) % len) + 1 AS INT), 1)) % 256"

  val oracles: Map[String, String] = Map(
    "m16_image_patches" ->
      s"""WITH g AS (
        |  SELECT doc_id, text, length(text) AS len FROM documents),
        |p AS (
        |  SELECT doc_id, text, len, unnest(range(0, 16)) AS p FROM g),
        |c AS (
        |  SELECT doc_id, text, len,
        |    p // 4 AS patch_row, p % 4 AS patch_col,
        |    (p // 4) * 16 + (p % 4) * 2 AS base
        |  FROM p)
        |SELECT doc_id, patch_row, patch_col,
        |  CAST(${pxSql("base")} + ${pxSql("base + 1")}
        |     + ${pxSql("base + 8")} + ${pxSql("base + 9")} AS BIGINT)
        |    AS p_sum,
        |  CAST(${pxSql("base")} + ${pxSql("base + 1")}
        |     + ${pxSql("base + 8")} + ${pxSql("base + 9")} AS BIGINT) // 4
        |    AS p_mean
        |FROM c ORDER BY doc_id, patch_row, patch_col""".stripMargin,
    "q106_assortativity" ->
      s"""WITH ${Round6Queries.edgesSql},
        |und AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
        |deg AS (SELECT u, COUNT(*) AS deg FROM und GROUP BY 1),
        |sums AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
        |    CAST(SUM(dj.deg * dk.deg) AS BIGINT) AS sum_jk,
        |    CAST(SUM(dj.deg + dk.deg) AS BIGINT) AS sum_j_plus_k,
        |    CAST(SUM(dj.deg * dj.deg + dk.deg * dk.deg) AS BIGINT)
        |      AS sum_j2k2
        |  FROM e JOIN deg dj ON dj.u = e.u JOIN deg dk ON dk.u = e.v),
        |r AS (
        |  SELECT n_edges, sum_jk, sum_j_plus_k, sum_j2k2,
        |    4 * n_edges * sum_jk - sum_j_plus_k * sum_j_plus_k AS num4,
        |    2 * n_edges * sum_j2k2 - sum_j_plus_k * sum_j_plus_k AS den4
        |  FROM sums)
        |SELECT n_edges, sum_jk, sum_j_plus_k, sum_j2k2, num4, den4,
        |  (num4 * 10000) // den4 AS r_bp
        |FROM r""".stripMargin)
}
