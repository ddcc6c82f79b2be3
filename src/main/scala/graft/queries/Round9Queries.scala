package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Ninth batch — the corpus-assembly tail of a training-data pipeline:
  *
  *  - t16: deterministic mixture sampling — hit per-source target weights
  *    with a content-hash threshold (reproducible across runs and
  *    engines: resampling a grown corpus keeps every previous decision);
  *  - p23: sequence packing — "concatenate the corpus, chop every C
  *    tokens" via a *distributed* prefix sum ([[graft.operators.Rank
  *    .prefixSum]]), never a single-partition window.
  *
  * Reference scope: extensions beyond the reference surface (same
  * contract as the other d/t/p families — the reference's transform
  * dialect is open, /root/reference/tools.py:58-65); q76 exercises a
  * dialect corner of that open surface directly.
  */
object Round9Queries extends QueryModule {

  // ── t16: mixture sampling — per-source target weights realized by a
  //        deterministic md5-threshold on the *content*: keep iff the
  //        first 32 hash bits < w·2³². Every engine recomputes the same
  //        keep set (the oracle does), and because the decision is
  //        per-document content, growing the corpus never flips old
  //        decisions — the property that makes mixtures reproducible
  //        across crawl snapshots. Weights are exact quarters so
  //        w·2³² is integral: Spark's truncating double→long cast and
  //        DuckDB's rounding cast agree. ─────────────────────────────────
  def t16_mixture_sample(s: SparkSession, dir: String): DataFrame = {
    val srcIdx = substring(col("source"), 4, 10).cast(IntegerType)
    val w = (srcIdx % 4 + 1).cast(DoubleType) / lit(4.0)
    val h = conv(substring(md5(col("text")), 1, 8), 16, 10).cast(LongType)
    val kept = (h < (w * lit(4294967296.0)).cast(LongType)).cast(IntegerType)
    Tables.load(s, dir, "documents")
      .select(col("source"), w.as("target_w"), kept.as("k"))
      .groupBy(col("source"), col("target_w"))
      .agg(count(lit(1)).as("n_total"),
        sum(col("k")).cast(LongType).as("n_kept"))
      .select(col("source"), col("n_total"), col("n_kept"), col("target_w"),
        round(col("n_kept").cast(DoubleType) /
          col("n_total").cast(DoubleType), 6).as("realized_frac"))
      .orderBy(col("source"))
  }

  // ── p23: sequence packing — assign each document to the training pack
  //        its start offset falls in (C = 4096 tokens), the GPT-style
  //        concat-and-chop layout. The global cumulative token count runs
  //        through Rank.prefixSum: per-partition partials + broadcast
  //        offsets + a window partitioned BY THE SORT PARTITION —
  //        PlanAuditSpec pins that no single-partition exchange appears.
  //        The oracle recomputes the same integer math with an ordinary
  //        (single-threaded) window. ────────────────────────────────────
  def p23_sequence_pack(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        Text.tokenCount(col("text")).cast(LongType).as("n_tok"))
    val cum = graft.operators.Rank.prefixSum(docs, "cum", col("n_tok"),
      col("doc_id"))
    cum
      .withColumn("pack",
        floor((col("cum") - col("n_tok")).cast(DoubleType) / lit(4096.0))
          .cast(LongType))
      .groupBy(col("pack"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast(LongType).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("pack"))
  }

  // ── q76: GROUPING() disambiguation on grouping sets — the dialect
  //        corner q16 leaves open: a NULL group key is ambiguous between
  //        "the ALL row" and "a genuinely-NULL key" without the grouping
  //        indicator; identical SQL text runs in both engines. ──────────
  def q76_grouping_id(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority"""
        .stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t16_mixture_sample" -> (t16_mixture_sample _),
    "p23_sequence_pack"  -> (p23_sequence_pack _),
    "q76_grouping_id"    -> (q76_grouping_id _))

  val oracles: Map[String, String] = Map(
    "q76_grouping_id" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority"""
        .stripMargin,
    "t16_mixture_sample" ->
      """WITH d AS (
        |  SELECT source,
        |    (CAST(substr(source, 4) AS INT) % 4 + 1) / CAST(4 AS DOUBLE)
        |      AS target_w,
        |    CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS h
        |  FROM documents),
        |k AS (
        |  SELECT source, target_w,
        |    CASE WHEN h < CAST(target_w * 4294967296 AS BIGINT)
        |         THEN 1 ELSE 0 END AS kept
        |  FROM d)
        |SELECT source, COUNT(*) AS n_total,
        |  CAST(SUM(kept) AS BIGINT) AS n_kept, target_w,
        |  ROUND(CAST(SUM(kept) AS DOUBLE) / COUNT(*), 6) AS realized_frac
        |FROM k GROUP BY source, target_w ORDER BY source""".stripMargin,
    "p23_sequence_pack" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    SUM(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |      AS cum
        |  FROM d),
        |p AS (
        |  SELECT doc_id, n_tok,
        |    CAST(FLOOR((cum - n_tok) / CAST(4096 AS DOUBLE)) AS BIGINT)
        |      AS pack
        |  FROM c)
        |SELECT pack, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM p GROUP BY pack ORDER BY pack""".stripMargin)
}
