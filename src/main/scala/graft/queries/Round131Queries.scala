package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.ParquetFooterExprs

/** Hundred-thirty-first batch — the physical metadata plane:
  *
  *  - p58: parquet footer census through our own thrift-compact-
  *    protocol reader (functions/ParquetFooter.scala) over the
  *    driver-shipped testdata files themselves, loaded as whole-file
  *    bytes via Spark's binaryFile source (the same ingest shape the
  *    multimodal blob queries use). The oracle is NOT a self-replay:
  *    it is DuckDB's own independent C++ parquet reader
  *    (`parquet_metadata()`) on the SAME bytes — two implementations
  *    of the public format agreeing field-for-field (row-group rows,
  *    per-chunk value counts, compressed/uncompressed sizes, page
  *    offsets, codec and encoding names).
  *
  * The fixture is PINNED to the driver's sf0.01 directory on both
  * sides (the d44 pattern): oracle SQL carries no directory parameter,
  * so the query must read the same physical files the oracle reads
  * regardless of the gate's scale factor. The census itself is
  * scale-independent metadata work — footers are KBs whatever the
  * table size; at 100 TB this exact plan (binaryFile scan of footer
  * tails → per-file parse → explode) is the table-service scan that
  * drives compaction planning (p55) and scan sizing, and it reads
  * file TAILS, never data pages.
  *
  * Reference scope: the reference reads CSV/JSON through pandas
  * (/root/reference/tools.py:22-41); beyond-reference lakehouse
  * surface per the build brief.
  */
object Round131Queries extends QueryModule {

  /** Pinned fixture dir — must match the oracle's literal paths. */
  private val FixtureDir = "/root/testdata/sf0.01"

  def p58_parquet_footer(s: SparkSession, dir: String): DataFrame = {
    val files = s.read.format("binaryFile")
      .load(graft.Tables.all.map(n => s"$FixtureDir/$n.parquet"): _*)
      .select(regexp_extract(col("path"), "([a-z]+)\\.parquet$", 1)
        .as("file"), col("content"))
    files
      .select(col("file"),
        explode(ParquetFooterExprs.footerCensus(col("content"))).as("c"))
      .select(col("file"), col("c.row_group_id").as("row_group_id"),
        col("c.row_group_num_rows").as("row_group_num_rows"),
        col("c.column_id").as("column_id"),
        col("c.path_in_schema").as("path_in_schema"),
        col("c.num_values").as("num_values"),
        col("c.total_compressed_size").as("total_compressed_size"),
        col("c.total_uncompressed_size").as("total_uncompressed_size"),
        col("c.compression").as("compression"),
        col("c.encodings").as("encodings"),
        col("c.data_page_offset").as("data_page_offset"),
        col("c.dictionary_page_offset").as("dictionary_page_offset"))
      .orderBy(col("file"), col("row_group_id"), col("column_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p58_parquet_footer" -> (p58_parquet_footer _))

  val oracles: Map[String, String] = Map(
    // DuckDB's independent parquet reader on the same physical files
    "p58_parquet_footer" ->
      s"""SELECT
        |  regexp_extract(file_name, '([a-z]+)\\.parquet$$', 1) AS file,
        |  CAST(row_group_id AS INT) AS row_group_id,
        |  CAST(row_group_num_rows AS BIGINT) AS row_group_num_rows,
        |  CAST(column_id AS INT) AS column_id,
        |  path_in_schema,
        |  CAST(num_values AS BIGINT) AS num_values,
        |  CAST(total_compressed_size AS BIGINT) AS total_compressed_size,
        |  CAST(total_uncompressed_size AS BIGINT)
        |    AS total_uncompressed_size,
        |  compression, encodings,
        |  CAST(data_page_offset AS BIGINT) AS data_page_offset,
        |  CAST(COALESCE(dictionary_page_offset, -1) AS BIGINT)
        |    AS dictionary_page_offset
        |FROM parquet_metadata('$FixtureDir/*.parquet')
        |ORDER BY 1, 2, 4""".stripMargin)
}
