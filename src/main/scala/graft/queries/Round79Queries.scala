package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.functions.{ImageExprs, PngExprs}

/** Seventy-ninth batch — Katz centrality in exact integers and metadata
  * travelling inside the media container:
  *
  *  - q118: Katz centrality on the co-purchase graph, truncated at walk
  *    length 3 with attenuation α = 1/4 — EXACT by integer scaling:
  *    katz_scaled = 4³·Σₖ α^k (Aᵏ1)ᵥ = 16·s1 + 4·s2 + s3, where s1 is
  *    the degree and each sₖ₊₁ is one neighbor-join aggregate over the
  *    previous vector (the same per-iteration shape as PageRank, state
  *    = one value per node). Unlike degree, Katz credits nodes for
  *    having well-connected neighbors; the truncation is the standard
  *    finite-walk approximation and keeps every term BIGINT.
  *  - m24: tEXt metadata round-trip — each document's (lang, source)
  *    travels INSIDE its PNG payload as spec-compliant ancillary tEXt
  *    chunks (keyword, NUL, Latin-1 value, CRC-framed), written between
  *    IHDR and IDAT and read back by a CRC-checking chunk walk
  *    ([[graft.functions.PngTextValue]]). A missing keyword yields
  *    NULL, pixel stats are unchanged by the extra chunks (the decoder
  *    must skip ancillary chunks to find them), and a corrupt chunk
  *    fails loudly — the "typed metadata travels with the blob"
  *    contract a multimodal lakehouse needs.
  *
  * Reference scope: beyond-reference LLM-pipeline + analytics surface
  * (the reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round79Queries extends QueryModule {

  // ── q118: truncated Katz centrality, exact scaled integers ────────────

  def q118_katz_centrality(s: SparkSession, dir: String): DataFrame = {
    val e = Round6Queries.copurchaseEdges(s, dir)
    val sym = e.select(col("u").as("a"), col("v").as("b"))
      .unionByName(e.select(col("v").as("a"), col("u").as("b")))
      .localCheckpoint()
    val s1 = sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("s1"))
    def step(prev: DataFrame, in: String, out: String): DataFrame =
      sym.join(prev.select(col("node").as("b"), col(in)), "b")
        .groupBy(col("a").as("node")).agg(sum(col(in)).as(out))
    val s2 = step(s1, "s1", "s2")
    val s3 = step(s2, "s2", "s3")
    val scored = s1.join(s2, "node").join(s3, "node")
      .select(col("node"), col("s1"), col("s2"), col("s3"),
        (col("s1") * 16 + col("s2") * 4 + col("s3")).as("katz_scaled"))
    scored.orderBy(col("katz_scaled").desc, col("node")).limit(20)
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("katz_scaled").desc, col("node")))
        .cast(LongType))
      .orderBy(col("rk"))
  }

  // ── m24: tEXt metadata round-trip through the PNG container ───────────

  def m24_png_text_chunks(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        PngExprs.encodePngGrayWithMeta(col("text"), col("lang"),
          col("source"), 8, 8).as("payload"))
      .select(col("doc_id"),
        PngExprs.pngTextValue(col("payload"), "lang").as("lang_png"),
        PngExprs.pngTextValue(col("payload"), "source").as("source_png"),
        PngExprs.pngTextValue(col("payload"), "absent").isNull
          .as("missing_is_null"),
        ImageExprs.imageStats(col("payload")).getField("sum_all")
          .as("sum_all"))
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q118_katz_centrality" -> (q118_katz_centrality _),
    "m24_png_text_chunks"  -> (m24_png_text_chunks _))

  val oracles: Map[String, String] = Map(
    "q118_katz_centrality" ->
      s"""WITH ${Round6Queries.edgesSql},
        |sym AS (SELECT u AS a, v AS b FROM e
        |  UNION ALL SELECT v AS a, u AS b FROM e),
        |s1 AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS s1
        |  FROM sym GROUP BY 1),
        |s2 AS (SELECT sym.a AS node, CAST(SUM(s1.s1) AS BIGINT) AS s2
        |  FROM sym JOIN s1 ON s1.node = sym.b GROUP BY 1),
        |s3 AS (SELECT sym.a AS node, CAST(SUM(s2.s2) AS BIGINT) AS s3
        |  FROM sym JOIN s2 ON s2.node = sym.b GROUP BY 1),
        |scored AS (
        |  SELECT s1.node, s1.s1, s2.s2, s3.s3,
        |    s1.s1 * 16 + s2.s2 * 4 + s3.s3 AS katz_scaled
        |  FROM s1 JOIN s2 USING (node) JOIN s3 USING (node)),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY katz_scaled DESC, node)
        |    AS rk
        |  FROM scored)
        |SELECT node, s1, s2, s3, katz_scaled, CAST(rk AS BIGINT) AS rk
        |FROM ranked WHERE rk <= 20 ORDER BY rk""".stripMargin,
    "m24_png_text_chunks" ->
      """SELECT doc_id, lang AS lang_png, source AS source_png,
        |  TRUE AS missing_is_null,
        |  CAST(list_sum(list_transform(range(0, 64),
        |    i -> ord(substr(text, CAST((i % length(text)) + 1 AS INT), 1))
        |      % 256)) AS BIGINT) AS sum_all
        |FROM documents ORDER BY doc_id""".stripMargin)
}
