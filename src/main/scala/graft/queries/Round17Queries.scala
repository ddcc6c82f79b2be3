package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import SketchSql.MStr

/** Seventeenth batch — membership gates, deterministic weighted
  * sampling, attribution analytics, URL dialect:
  *
  *  - a6: Bloom-filter membership from the sketch cell table
  *    ([[graft.operators.CountMin.membership]]) — the no-false-negative
  *    guarantee and the false-positive count are both pinned.
  *  - p25: weighted bottom-k corpus sampling by integer hash priority —
  *    the deterministic, mergeable replacement for RNG reservoir
  *    sampling when assembling training mixtures.
  *  - q79: last-touch attribution — IGNORE-NULLS window navigation per
  *    user, the marketing-funnel twin of q53's gap filling.
  *  - t22: URL parsing (`parse_url` HOST/PATH/QUERY) + host-level
  *    rollup — the domain-grouping shape of web-corpus curation.
  *
  * Reference scope: extension beyond the reference surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round17Queries extends QueryModule {

  // ── a6: ship the membership gate, not the key set: members are the
  //        custkeys holding a recent (orderkey ≡ 0 mod 11) order; the
  //        Bloom cells are the sketch's (i,b) projection (3×2048 bits).
  //        Probing all customers pins zero false negatives and counts
  //        the false positives the occupancy implies. ───────────────────
  def a6_bloom_membership(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val w = 2048
    val members = Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") % 11 === 0)
      .select(col("o_custkey").as("k")).distinct()
      .localCheckpoint() // feeds both the cell build and the exact check
    val cells = CountMin.sketch(members, CountMin.DefaultFamily, w)
    val probe = Tables.load(s, dir, "customer").select(col("c_custkey").as("k"))
    val flags = CountMin.membership(probe, cells, CountMin.DefaultFamily, w)
      .join(probe.join(members.withColumnRenamed("k", "mk"),
          col("k") === col("mk"), "left")
        .select(col("k"), col("mk").isNotNull.as("member")), "k")
    flags.agg(
      count(lit(1)).as("n_probe"),
      sum(when(col("member"), 1L).otherwise(0L)).as("n_member_exact"),
      sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom_hit"),
      sum(when(col("bloom_hit") && !col("member"), 1L).otherwise(0L))
        .as("false_positives"),
      sum(when(!col("bloom_hit") && col("member"), 1L).otherwise(0L))
        .as("false_negatives"))
  }

  // ── p25: weighted corpus sampling without RNG: priority =
  //        hash(doc_id) ÷ weight (integer division), keep the bottom 50.
  //        Heavier docs draw proportionally smaller priorities, reruns
  //        are bit-stable, and the bottom-k is a per-partition top-k plus
  //        a 50-row merge (TakeOrdered) — no global sort, and samples of
  //        shards merge by re-taking the bottom-k of the union. ─────────
  def p25_weighted_sample(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").as("w"),
        CountMin.mix61(col("doc_id"), 1299709L, 104729L).as("mh"))
      .select(col("doc_id"), col("w"),
        expr("mh div greatest(w, 1)").as("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(50)
  }

  // ── q79: last-touch attribution: each purchase credits the user's most
  //        recent preceding click/view (IGNORE NULLS navigation over a
  //        per-user window — partitioned, so no single-task funnel). ────
  def q79_attribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.load(s, dir, "events")
      .withColumn("touch",
        last(when(col("event_type").isin("click", "view"),
          col("event_type")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("unattributed")).as("last_touch"))
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy(col("last_touch"))
  }

  // ── t22: URL analytics: synthesize each document's canonical URL, then
  //        recover host/path/query with `parse_url` and roll up per host
  //        — the oracle rebuilds the fields from first principles, so the
  //        parser's semantics are what's being hash-checked. ────────────
  def t22_url_hosts(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .withColumn("url", concat(lit("https://"), col("source"),
        lit(".example.org/docs/"), col("doc_id").cast("string"),
        lit("?lang="), col("lang")))
      .select(expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("parse_url(url, 'QUERY', 'lang')").as("lang_q"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang_q")).as("n_langs"),
        min(col("path")).as("first_path"))
      .orderBy(col("host"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a6_bloom_membership" -> (a6_bloom_membership _),
    "p25_weighted_sample" -> (p25_weighted_sample _),
    "q79_attribution"     -> (q79_attribution _),
    "t22_url_hosts"       -> (t22_url_hosts _))

  val oracles: Map[String, String] = Map(
    "a6_bloom_membership" ->
      s"""WITH fam(i, a, b) AS (VALUES (0, 1299709, 104729),
        |  (1, 15485863, 1999), (2, 32452843, 777767)),
        |mem AS (
        |  SELECT DISTINCT o_custkey AS k FROM orders
        |  WHERE o_orderkey % 11 = 0),
        |cells AS (
        |  SELECT DISTINCT fam.i,
        |    ${SketchSql.bucket("mem.k", "fam.a", "fam.b", 2048)} AS b
        |  FROM mem CROSS JOIN fam),
        |probe AS (SELECT c_custkey AS k FROM customer),
        |ph AS (
        |  SELECT probe.k, fam.i,
        |    ${SketchSql.bucket("probe.k", "fam.a", "fam.b", 2048)} AS b
        |  FROM probe CROSS JOIN fam),
        |hits AS (
        |  SELECT ph.k, COUNT(cells.i) = 3 AS bloom_hit
        |  FROM ph LEFT JOIN cells ON cells.i = ph.i AND cells.b = ph.b
        |  GROUP BY ph.k),
        |flags AS (
        |  SELECT hits.k, hits.bloom_hit, mem.k IS NOT NULL AS member
        |  FROM hits LEFT JOIN mem ON mem.k = hits.k)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
        |  CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_member_exact,
        |  CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bloom_hit,
        |  CAST(SUM(CASE WHEN bloom_hit AND NOT member THEN 1 ELSE 0 END)
        |    AS BIGINT) AS false_positives,
        |  CAST(SUM(CASE WHEN NOT bloom_hit AND member THEN 1 ELSE 0 END)
        |    AS BIGINT) AS false_negatives
        |FROM flags""".stripMargin,
    "p25_weighted_sample" ->
      s"""SELECT doc_id, n_chars AS w,
        |  ${SketchSql.mix("doc_id", "1299709", "104729")}
        |    // GREATEST(n_chars, 1) AS priority
        |FROM documents
        |ORDER BY priority, doc_id LIMIT 50""".stripMargin,
    "q79_attribution" ->
      """WITH attr AS (
        |  SELECT event_type,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS touch
        |  FROM events)
        |SELECT COALESCE(touch, 'unattributed') AS last_touch,
        |  CAST(COUNT(*) AS BIGINT) AS n_purchases
        |FROM attr WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "t22_url_hosts" ->
      """WITH u AS (
        |  SELECT source || '.example.org' AS host,
        |    '/docs/' || CAST(doc_id AS VARCHAR) AS path,
        |    lang AS lang_q
        |  FROM documents)
        |SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT lang_q) AS BIGINT) AS n_langs,
        |  MIN(path) AS first_path
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)
}
