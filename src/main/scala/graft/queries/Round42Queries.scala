package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.ImageExprs
import SketchSql.textByte

/** Forty-second batch — data auditing, curation, and image features:
  *
  *  - q95: Benford first-digit audit — observed vs expected leading-digit
  *    distribution of order totals in integer basis points (the classic
  *    fabricated-data screen; synthetic uniform prices deviate wildly,
  *    which the dev_bp column makes visible).
  *  - d28: dup-cluster source purity — for every near-dup cluster, how
  *    many SOURCES its members span: cross-source clusters are
  *    contamination (one corpus copied into another), within-source
  *    clusters are ordinary re-posts. The curation triage between d7's
  *    doc-level clusters and d26's source-level matrix.
  *  - m14: Sobel edge density over decoded pixels — the |gx|+|gy|
  *    gradient magnitude on every interior pixel of the 8×8 raster,
  *    exact integers; near-uniform images (no edges) carry no visual
  *    signal, the image-side analog of t6's text-quality gate.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round42Queries extends QueryModule {

  // Benford expectation, ⌊log10(1+1/d)·10⁴⌋ pinned as integers so both
  // engines share literal values (no float log in the gate)
  private val benfordBp: Seq[(Int, Long)] = Seq(
    1 -> 3010L, 2 -> 1760L, 3 -> 1249L, 4 -> 969L, 5 -> 791L,
    6 -> 669L, 7 -> 579L, 8 -> 511L, 9 -> 457L)

  def q95_benford(s: SparkSession, dir: String): DataFrame = {
    val sp = s
    import sp.implicits._
    val digits = Tables.load(s, dir, "orders")
      .select(substring(round(col("o_totalprice") * 100).cast(LongType)
        .cast(StringType), 1, 1).cast(IntegerType).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("t"))
    val exp = benfordBp.toDF("digit", "exp_bp")
    digits.crossJoin(broadcast(total))
      .join(broadcast(exp), "digit")
      .select(col("digit"), col("n"),
        expr("n * 10000 div t").as("obs_bp"), col("exp_bp"))
      .withColumn("dev_bp", abs(col("obs_bp") - col("exp_bp")))
      .orderBy(col("digit"))
  }

  // ── d28: d7's clusters (LSH pairs → connected components) joined to
  //        the source column; one aggregate per cluster. ───────────────
  def d28_cluster_sources(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.operators.Dedup.minhashLsh(Tables.load(s, dir, "documents"),
      "doc_id", "text", shingleN = 3, numHashes = 32, bands = 8,
      threshold = 0.5)
    val labels = graft.operators.Graph
      .connectedComponents(pairs, "id_a", "id_b")
    val src = Tables.load(s, dir, "documents").select(col("doc_id"), col("source"))
    labels.join(src, labels("n") === src("doc_id"))
      .groupBy(col("l").as("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
      .withColumn("cross_source", col("n_sources") >= 2)
      .orderBy(col("cluster"))
  }

  // Sobel over the 6×6 interior of the 8×8 raster: k enumerates the 36
  // interior pixels, y = k div 6 + 1, x = k mod 6 + 1; the two engine
  // renderings share this index algebra exactly.
  private def sparkPix(dy: Int, dx: Int): String =
    s"element_at(p, CAST(((k div 6) + 1 + ($dy)) * 8 + " +
      s"((k % 6) + 1 + ($dx)) + 1 AS INT))"
  private def sparkMag: String = {
    def gx = s"((${sparkPix(-1, 1)} + 2*${sparkPix(0, 1)} + ${sparkPix(1, 1)}) - " +
      s"(${sparkPix(-1, -1)} + 2*${sparkPix(0, -1)} + ${sparkPix(1, -1)}))"
    def gy = s"((${sparkPix(1, -1)} + 2*${sparkPix(1, 0)} + ${sparkPix(1, 1)}) - " +
      s"(${sparkPix(-1, -1)} + 2*${sparkPix(-1, 0)} + ${sparkPix(-1, 1)}))"
    s"abs($gx) + abs($gy)"
  }

  def m14_edge_density(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(col("doc_id"),
        ImageExprs.decodePixels(
          ImageExprs.encodeImageFromText(col("text"), "pgm", 8, 8))
          .as("p"))
      .withColumn("mags", expr(
        s"transform(sequence(0, 35), k -> CAST(($sparkMag) AS BIGINT))"))
      .select(col("doc_id"),
        expr("aggregate(mags, CAST(0 AS BIGINT), (a, m) -> a + m)")
          .as("sum_mag"),
        expr("CAST(size(filter(mags, m -> m >= 200)) AS BIGINT)")
          .as("n_edges"))
      .withColumn("edge_bp", expr("n_edges * 10000 div 36"))
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q95_benford"         -> (q95_benford _),
    "d28_cluster_sources" -> (d28_cluster_sources _),
    "m14_edge_density"    -> (m14_edge_density _))

  private def duckPix(dy: Int, dx: Int): String =
    textByte(s"((k // 6) + 1 + ($dy)) * 8 + ((k % 6) + 1 + ($dx))")
  private def duckMag: String = {
    def gx = s"((${duckPix(-1, 1)} + 2*${duckPix(0, 1)} + ${duckPix(1, 1)}) - " +
      s"(${duckPix(-1, -1)} + 2*${duckPix(0, -1)} + ${duckPix(1, -1)}))"
    def gy = s"((${duckPix(1, -1)} + 2*${duckPix(1, 0)} + ${duckPix(1, 1)}) - " +
      s"(${duckPix(-1, -1)} + 2*${duckPix(-1, 0)} + ${duckPix(-1, 1)}))"
    s"abs($gx) + abs($gy)"
  }

  val oracles: Map[String, String] = Map(
    "q95_benford" -> {
      val expRows = benfordBp
        .map { case (d, b) => s"($d, ${b}::BIGINT)" }.mkString(", ")
      s"""WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice*100) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders),
        |c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM c),
        |exp(digit, exp_bp) AS (VALUES $expRows)
        |SELECT c.digit, c.n, c.n * 10000 // tot.t AS obs_bp, exp.exp_bp,
        |  abs(c.n * 10000 // tot.t - exp.exp_bp) AS dev_bp
        |FROM c CROSS JOIN tot JOIN exp ON exp.digit = c.digit
        |ORDER BY c.digit""".stripMargin
    },
    "d28_cluster_sources" ->
      s"""WITH clusters AS (
        |  SELECT * FROM (
        |${ExtensionQueries.oracles("d7_dup_clusters")}
        |  ))
        |SELECT c.cluster, COUNT(*) AS n_docs,
        |  CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources,
        |  COUNT(DISTINCT d.source) >= 2 AS cross_source
        |FROM clusters c JOIN documents d USING (doc_id)
        |GROUP BY c.cluster ORDER BY c.cluster""".stripMargin,
    "m14_edge_density" ->
      s"""WITH m AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 36), k -> CAST(($duckMag) AS BIGINT))
        |      AS mags
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(list_sum(mags) AS BIGINT) AS sum_mag,
        |  CAST(len(list_filter(mags, x -> x >= 200)) AS BIGINT) AS n_edges,
        |  CAST(len(list_filter(mags, x -> x >= 200)) AS BIGINT)
        |    * 10000 // 36 AS edge_bp
        |FROM m ORDER BY doc_id""".stripMargin)
}
