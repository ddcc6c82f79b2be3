package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.functions.{RobotsExprs, ZstdExprs}
import graft.streaming.Drain.drain

/** Hundred-thirty-third batch — the modern shard codec + the crawl
  * gate on the stream:
  *
  *  - p59: zstd-framed JSONL shards (RFC 8878) through our own
  *    pure-JVM frame codec (functions/ZstdCodec.scala): real magic /
  *    descriptor / frame-content-size / block-header / xxHash64-
  *    checksum plumbing with RAW + RLE blocks (both spec-legal; the
  *    fixture plants padding runs so RLE genuinely fires), and the
  *    Compressed_Block entropy path REJECTED loudly as the labeled
  *    seam — stated, not hidden. Header content size cross-checked
  *    against the decoded byte count per shard.
  *  - e41: t74's RFC 9309 robots evaluation as a STREAMING crawl-
  *    frontier gate — verdicts per arriving URL, per-source counters
  *    in complete mode; batch parity oracle-proven row-for-row.
  *
  * Scale: same embarrassingly-parallel shapes as p56/e40 (per-row
  * codec/matcher work + one ≤20-group rollup; bounded complete-mode
  * state).
  */
object Round133Queries extends QueryModule {

  // ── p59: zstd JSONL shards with planted padding runs ─────────────────

  def p59_zstd_shards(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("text"))
    val shards = docs
      .select(col("source"),
        to_json(struct(col("doc_id"), col("text"))).as("line"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_in"),
        // sector-style padding run between header and lines: RLE fires
        concat(lit("=" * 64), lit("\n"),
          array_join(array_sort(collect_list(col("line"))), "\n"))
          .as("jsonl"))
      .select(col("source"), col("n_docs_in"),
        length(col("jsonl")).as("raw_len"),
        ZstdExprs.zstdUtf8(col("jsonl")).as("payload"))
    val parsed = shards
      .select(col("source"), col("n_docs_in"),
        (ZstdExprs.zstdContentSize(col("payload")) === col("raw_len"))
          .as("content_size_ok"),
        explode(split(ZstdExprs.unzstdUtf8(col("payload")), "\n")).as("line"))
      .filter(!col("line").startsWith("=")) // drop the padding run line
      .select(col("source"), col("n_docs_in"), col("content_size_ok"),
        get_json_object(col("line"), "$.doc_id").cast(LongType).as("doc_id"),
        get_json_object(col("line"), "$.text").as("text"))
    parsed.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("doc_id")).as("n_distinct"),
        sum(length(col("text"))).as("sum_text_len"),
        (count(lit(1)) === first(col("n_docs_in"))).as("roundtrip_complete"),
        bool_and(col("content_size_ok")).as("content_size_ok"))
      .orderBy(col("source"))
  }

  // ── e41: robots.txt verdicts at the crawl frontier (stream) ──────────

  private def robotsFor(src: Column, srcNum: Column): Column = concat(
    lit("# fixture robots for "), src, lit("\n"),
    lit("Sitemap: https://example.com/sitemap.xml\n"),
    lit("User-agent: *\nCrawl-delay: 5\n"),
    lit("Disallow: /private/\nAllow: /private/ok/\nDisallow: /*.tmp$\n"),
    when(srcNum % 2 === 1,
      lit("\nUser-agent: graftbot\nDisallow: /secret/\nAllow: /\n"))
      .otherwise(lit("")))

  private def pathFor(docId: Column): Column = {
    val c = docId % 5
    when(c === 0, concat(lit("/public/page"), docId, lit(".html")))
      .when(c === 1, concat(lit("/private/data"), docId, lit(".html")))
      .when(c === 2, concat(lit("/private/ok/x"), docId, lit(".html")))
      .when(c === 3, concat(lit("/cache/f"), docId, lit(".tmp")))
      .otherwise(concat(lit("/secret/s"), docId, lit(".html")))
  }

  def e41_stream_robots_gate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val raw = Tables.stream(s, dir, "documents", docs.schema)
    val srcNum = regexp_extract(col("source"), "([0-9]+)$", 1).cast("int")
    val agg = raw
      .select(col("source"),
        RobotsExprs.robotsAllowed(robotsFor(col("source"), srcNum),
          pathFor(col("doc_id"))).as("allowed"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_urls"),
        sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
        sum(when(col("allowed"), 0L).otherwise(1L)).as("n_denied"))
    drain(agg, "complete").orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p59_zstd_shards"        -> (p59_zstd_shards _),
    "e41_stream_robots_gate" -> (e41_stream_robots_gate _))

  val oracles: Map[String, String] = Map(
    "p59_zstd_shards" ->
      """SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_text_len,
        |  TRUE AS roundtrip_complete,
        |  TRUE AS content_size_ok
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "e41_stream_robots_gate" ->
      """WITH per AS (
        |  SELECT source,
        |    CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) % 2 AS p,
        |    doc_id % 5 AS c
        |  FROM documents),
        |v AS (
        |  SELECT source,
        |    CASE WHEN p = 1 THEN (c <> 4)
        |         ELSE (c <> 1 AND c <> 3) END AS allowed
        |  FROM per)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  CAST(SUM(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_allowed,
        |  CAST(SUM(CASE WHEN allowed THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_denied
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin)
}
