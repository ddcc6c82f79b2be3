package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Thirty-ninth batch — smoothing and novelty:
  *
  *  - q92: integer EWMA (α = ½) over each event type's hourly series —
  *    exponential smoothing as an order-dependent fold on the integer
  *    lattice ([[graft.operators.OrderedScan.halvingEwma]]); the
  *    truncating halve is non-associative, so this is the second
  *    window-inexpressible scan the OrderedScan operator carries. The
  *    oracle replays the fold row by row in a recursive CTE.
  *  - t27: n-gram novelty curve — per document, the fraction of its
  *    8-gram shingles never seen in any EARLIER document (by doc_id
  *    ingest order): the dataset-freshness signal that tells a corpus
  *    pipeline when new batches stop adding information. One shuffle
  *    keyed by shingle (min doc_id per shingle IS the first sighting).
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round39Queries extends QueryModule {

  // ── q92: hourly counts per type (the fact aggregate), then one
  //        hash-partition + in-partition sort + linear scan. ────────────
  def q92_ewma_smoothing(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val hourly = raw
      .groupBy(col("event_type"),
        date_trunc("hour", Tables.tsMicros(raw)).as("hour"))
      .agg(count(lit(1)).as("cnt"))
    graft.operators.OrderedScan
      .halvingEwma(hourly, col("event_type"), Seq(col("hour")), col("cnt"))
      .withColumnRenamed("k", "event_type")
      .orderBy(col("event_type"))
  }

  // ── t27: distinct 8-gram shingles per doc; a shingle is NOVEL for the
  //        minimum doc_id that carries it. Novelty in integer basis
  //        points; docs too short for one shingle drop out (consistently
  //        in both engines). ────────────────────────────────────────────
  def t27_ngram_novelty(s: SparkSession, dir: String): DataFrame = {
    val sh = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.Text.shingles(col("text"), 8))).as("sh"))
    val firstSeen = sh.groupBy(col("sh"))
      .agg(min(col("doc_id")).as("first_doc"))
    sh.join(firstSeen, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_sh"), col("n_novel"),
        expr("n_novel * 10000 div n_sh").as("novelty_bp"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q92_ewma_smoothing" -> (q92_ewma_smoothing _),
    "t27_ngram_novelty"  -> (t27_ngram_novelty _))

  val oracles: Map[String, String] = Map(
    "q92_ewma_smoothing" ->
      """WITH RECURSIVE hourly AS (
        |  SELECT event_type,
        |    CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
        |      AS hour,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS MATERIALIZED (
        |  SELECT event_type, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hour) AS rn
        |  FROM hourly),
        |walk(event_type, rn, s, mx) AS (
        |  SELECT event_type, rn, cnt, cnt FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.event_type, r.rn, (w.s + r.cnt) // 2,
        |    GREATEST(w.mx, (w.s + r.cnt) // 2)
        |  FROM walk w JOIN r ON r.event_type = w.event_type
        |    AND r.rn = w.rn + 1),
        |n AS (SELECT event_type, COUNT(*) AS n_steps FROM r GROUP BY 1)
        |SELECT w.event_type, n.n_steps,
        |  CAST(w.mx AS BIGINT) AS max_ewma,
        |  CAST(w.s AS BIGINT) AS final_ewma
        |FROM walk w JOIN n ON n.event_type = w.event_type
        |  AND w.rn = n.n_steps
        |ORDER BY w.event_type""".stripMargin,
    "t27_ngram_novelty" ->
      """WITH base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS L
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, L, unnest(range(1, len(L) - 6)) AS i
        |  FROM base WHERE len(L) >= 8),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(L[i:i+7], ' ') AS g
        |  FROM idx),
        |fs AS (SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
        |SELECT sh.doc_id, COUNT(*) AS n_sh,
        |  CAST(SUM(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  CAST(SUM(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) * 10000 // COUNT(*) AS novelty_bp
        |FROM sh JOIN fs ON fs.g = sh.g
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin)
}
