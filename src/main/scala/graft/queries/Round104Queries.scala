package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.Drain.drain

/** Hundred-fourth batch — crawl-frontier URL canonicalization, batch
  * and streaming:
  *
  *  - d47: URL canonicalization dedup — the first dedup any web-crawl
  *    pipeline runs: lowercase scheme+host, strip the default port and
  *    fragment, drop `utm_*` tracking params, sort the query string.
  *    Two deterministic raw variants per document (different case,
  *    port, tracking params, param order) must collapse to ONE
  *    canonical form each — per-document variant and canonical counts
  *    gated, so every normalization rule is load-bearing.
  *  - e34: the same canonicalization at ingest time — streaming
  *    `dropDuplicates` on the canonical form (the stateful streaming
  *    dedup operator), summary counts on the drained sink. Proves the
  *    ingest path admits exactly one row per canonical URL.
  *
  * Scale: canonicalization is per-row string work inside codegen-
  * friendly built-ins; the streaming dedup state is one entry per
  * canonical URL — the crawl-frontier shape (at 100 TB the state
  * becomes a bloom-gated RocksDB store, same operator).
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round104Queries extends QueryModule {

  /** The two deterministic raw variants per document. */
  private def rawUrls(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), lit(0L).as("variant"),
        concat(lit("HTTPS://"), upper(col("source")),
          lit(".Example.COM:443/docs/"), col("doc_id"),
          lit("?utm_source=feed&b=2&a=1#frag")).as("url"))
      .unionByName(docs.select(col("doc_id"), lit(1L).as("variant"),
        concat(lit("https://"), col("source"), lit(".example.com/docs/"),
          col("doc_id"), lit("?a=1&b=2&utm_campaign=x")).as("url")))

  /** Canonicalization, shared by the batch and streaming paths. */
  private def canonical(df: DataFrame): DataFrame =
    df.withColumn("scheme",
        lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1)))
      .withColumn("host",
        lower(regexp_extract(col("url"), "://([^/:?#]+)", 1)))
      .withColumn("path",
        regexp_extract(col("url"), "://[^/?#]+(/[^?#]*)", 1))
      .withColumn("qn", expr(
        """array_join(array_sort(filter(
          |  split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
          |  p -> NOT startswith(p, 'utm_') AND p != '')), '&')"""
          .stripMargin))
      .withColumn("canon", concat(col("scheme"), lit("://"), col("host"),
        col("path"),
        when(col("qn") === "", "").otherwise(concat(lit("?"), col("qn")))))

  // ── d47: per-document canonicalization audit ──────────────────────────

  def d47_url_canonicalization(s: SparkSession, dir: String): DataFrame =
    canonical(rawUrls(Tables.load(s, dir, "documents")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_variants"),
        countDistinct(col("canon")).as("n_canon"),
        min(col("canon")).as("canon_url"))
      .orderBy(col("doc_id"))

  // ── e34: streaming ingest dedup on the canonical form ─────────────────

  def e34_stream_url_dedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val stream = Tables.stream(s, dir, "documents", docs.schema)
    val deduped = canonical(rawUrls(stream))
      .select(col("doc_id"), col("canon"))
      .dropDuplicates("canon")
    drain(deduped, "append").agg(
      count(lit(1)).as("n_admitted"),
      countDistinct(col("canon")).as("n_distinct_canon"),
      countDistinct(col("doc_id")).as("n_docs"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d47_url_canonicalization" -> (d47_url_canonicalization _),
    "e34_stream_url_dedup"     -> (e34_stream_url_dedup _))

  private val OracleCanon =
    raw"""raw AS (
      |  SELECT doc_id, 0 AS variant,
      |    'HTTPS://' || upper(source) || '.Example.COM:443/docs/' ||
      |      doc_id || '?utm_source=feed&b=2&a=1#frag' AS url
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, 1,
      |    'https://' || source || '.example.com/docs/' || doc_id ||
      |      '?a=1&b=2&utm_campaign=x' AS url
      |  FROM documents),
      |norm AS (
      |  SELECT doc_id, variant,
      |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://' ||
      |      lower(regexp_extract(url, '://([^/:?#]+)', 1)) ||
      |      regexp_extract(url, '://[^/?#]+(/[^?#]*)', 1) ||
      |      CASE WHEN qn = '' THEN '' ELSE '?' || qn END AS canon
      |  FROM (
      |    SELECT doc_id, variant, url,
      |      array_to_string(list_sort(list_filter(
      |        string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
      |        p -> NOT starts_with(p, 'utm_') AND p != '')), '&') AS qn
      |    FROM raw))""".stripMargin

  val oracles: Map[String, String] = Map(
    "d47_url_canonicalization" ->
      s"""WITH $OracleCanon
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_variants,
        |  CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_canon,
        |  MIN(canon) AS canon_url
        |FROM norm GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "e34_stream_url_dedup" ->
      s"""WITH $OracleCanon,
        |ded AS (SELECT canon, MIN(doc_id) AS doc_id FROM norm
        |  GROUP BY canon)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_admitted,
        |  CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_distinct_canon,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM ded""".stripMargin)
}
