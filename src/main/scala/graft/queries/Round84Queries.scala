package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.functions.{ImageExprs, ShardExprs}
import SketchSql.textByte

/** Eighty-fourth batch — compressed-shard and archive ingestion, plus a
  * second fully in-JVM compressed image format:
  *
  *  - m26: GIF87a round-trip — the variable-width LZW coder implemented
  *    end to end in functions/GifCodec.scala (PNG leaned on the JDK's
  *    DEFLATE; GIF's LZW has no JDK implementation, so this is the
  *    first compressor we own both directions of). Stats replay from
  *    the codepoint closed form (LZW is lossless), and the query pins
  *    the LZW path against the DEFLATE (png_gray) path on the same
  *    raster. GifCodecSpec additionally proves interop BOTH directions
  *    against the JDK's independent ImageIO codec.
  *  - p43: gzip JSONL shards — the de-facto training-data interchange
  *    (one JSON object per line, shards gzipped). Per-source shard
  *    assembled with to_json + collect_list, gzipped through the RFC
  *    1952 expression (ShardCodec), parsed back with gunzip + line
  *    split + get_json_object; per-source doc counts, byte masses and
  *    token counts must survive the round trip (the oracle predicts
  *    them from the raw table — gzip is lossless, so any divergence is
  *    a codec bug).
  *  - p44: WARC-style response records (the Common Crawl shape) framed
  *    with Content-Length headers, concatenated per source, then parsed
  *    back with pure built-ins (split/regexp_extract/substring) and
  *    joined to the source table to verify every body byte-identical.
  *    No custom code at all on the parse side — archive ingestion as a
  *    plan, not a UDF.
  *
  * Shard assembly is one groupBy(source) each — the 100 TB shape is
  * "one shard row per (source, shard_idx)" with a bounded collect_list
  * per shard, exactly how shard writers partition; parse is per-shard
  * independent work. All flags/aggregates replayed by the oracle from
  * the raw table.
  *
  * Reference scope: the reference loads uncompressed CSV/JSON only
  * (/root/reference/tools.py:22-41); beyond-reference LLM-pipeline
  * surface per the build brief.
  */
object Round84Queries extends QueryModule {

  // ── m26: GIF87a LZW round-trip + cross-codec invariance ───────────────

  def m26_gif_lzw(s: SparkSession, dir: String): DataFrame = {
    val withStats = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      .select(col("doc_id"),
        ImageExprs.imageStats(
          ImageExprs.encodeImageFromText(col("text"), "gif", 16, 16)).as("st"),
        ImageExprs.imageStats(
          ImageExprs.encodeImageFromText(col("text"), "png_gray", 16, 16))
          .getField("sum_all").as("sum_png"))
    withStats.select(col("doc_id"),
        col("st.width").as("width"), col("st.height").as("height"),
        col("st.n_vals").as("n_vals"), col("st.sum_all").as("sum_all"),
        col("st.row0_sum").as("row0_sum"),
        col("st.px_min").as("px_min"), col("st.px_max").as("px_max"),
        (col("st.sum_all") === col("sum_png")).as("lzw_eq_deflate"))
      .orderBy(col("doc_id"))
  }

  // ── p43: gzip JSONL shards, assembled and parsed back ─────────────────

  def p43_gzip_jsonl(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("text"))
    val shards = docs
      .select(col("source"),
        to_json(struct(col("doc_id"), col("text"))).as("line"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_in"),
        array_join(array_sort(collect_list(col("line"))), "\n").as("jsonl"))
      .select(col("source"), col("n_docs_in"),
        ShardExprs.gzipUtf8(col("jsonl")).as("payload"))
    val parsed = shards
      .select(col("source"), col("n_docs_in"),
        explode(split(ShardExprs.gunzipUtf8(col("payload")), "\n"))
          .as("line"))
      .select(col("source"), col("n_docs_in"),
        get_json_object(col("line"), "$.doc_id").cast(LongType).as("doc_id"),
        get_json_object(col("line"), "$.text").as("text"))
    parsed.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("doc_id")).as("n_distinct"),
        sum(length(col("text"))).as("sum_text_len"),
        sum(size(split(trim(col("text")), "\\s+"))).as("n_tokens"),
        (count(lit(1)) === first(col("n_docs_in"))).as("roundtrip_complete"))
      .orderBy(col("source"))
  }

  // ── p44: WARC response records, framed and parsed back ────────────────

  def p44_warc_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("text"))
    val rec = concat(
      lit("WARC/1.0\r\n"),
      lit("WARC-Type: response\r\n"),
      lit("WARC-Record-ID: <urn:graft:"), col("doc_id"), lit(">\r\n"),
      lit("Content-Length: "), length(col("text")), lit("\r\n\r\n"),
      col("text"), lit("\r\n\r\n"))
    val shards = docs.select(col("source"), rec.as("rec"))
      .groupBy(col("source"))
      .agg(array_join(array_sort(collect_list(col("rec"))), "").as("shard"))
    val parsed = shards
      .select(col("source"),
        explode(split(col("shard"), "WARC/1\\.0\r\n")).as("rec"))
      .filter(length(col("rec")) > 0)
      .select(col("source"),
        regexp_extract(col("rec"), "WARC-Record-ID: <urn:graft:(\\d+)>", 1)
          .cast(LongType).as("doc_id"),
        regexp_extract(col("rec"), "Content-Length: (\\d+)", 1)
          .cast(LongType).as("clen"),
        col("rec"))
      .select(col("source"), col("doc_id"), col("clen"),
        substring_index(col("rec"), "\r\n\r\n", -2).substr(
          lit(1), col("clen").cast("int")).as("body"))
    parsed.join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_records"),
        sum(col("clen")).as("sum_content_len"),
        sum(when(col("body") === col("text"), 1L).otherwise(0L))
          .as("n_bodies_exact"),
        (count(lit(1)) ===
          sum(when(col("body") === col("text"), 1L).otherwise(0L)))
          .as("all_match"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m26_gif_lzw"        -> (m26_gif_lzw _),
    "p43_gzip_jsonl"     -> (p43_gzip_jsonl _),
    "p44_warc_roundtrip" -> (p44_warc_roundtrip _))

  val oracles: Map[String, String] = Map(
    "m26_gif_lzw" ->
      s"""WITH px AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 256), i -> ${textByte("i")}) AS p
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        |  CAST(256 AS BIGINT) AS n_vals,
        |  CAST(list_sum(p) AS BIGINT) AS sum_all,
        |  CAST(list_sum(list_transform(range(1, 17),
        |    t -> p[CAST(t AS INT)])) AS BIGINT) AS row0_sum,
        |  CAST(list_min(p) AS INT) AS px_min,
        |  CAST(list_max(p) AS INT) AS px_max,
        |  TRUE AS lzw_eq_deflate
        |FROM px ORDER BY doc_id""".stripMargin,
    "p43_gzip_jsonl" ->
      raw"""SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_text_len,
        |  CAST(SUM(length(string_split_regex(trim(text), '\s+')))
        |    AS BIGINT) AS n_tokens,
        |  TRUE AS roundtrip_complete
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "p44_warc_roundtrip" ->
      """SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_records,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_content_len,
        |  CAST(COUNT(*) AS BIGINT) AS n_bodies_exact,
        |  TRUE AS all_match
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)
}
