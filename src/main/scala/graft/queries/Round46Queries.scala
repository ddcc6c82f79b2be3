package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Forty-sixth batch — bitmap indexing, boilerplate detection, and the
  * write-audit-publish deployment pattern:
  *
  *  - q98: per-user activity BITMAPS — 30 days of activity packed into
  *    one BIGINT per user (bit d = active on day d), then audience
  *    questions answered by pure bit arithmetic: week-1 actives,
  *    week-4 actives, retained (both), total active-days by popcount.
  *    The Druid/ClickHouse-style exact bitmap index in two aggregates.
  *  - d30: per-source boilerplate detection — the modal 5-token
  *    document PREFIX and the share of documents carrying it; a
  *    high share means templated content (the CCNet boilerplate-strip
  *    trigger), the complement of t30's language diversity.
  *  - p35: Write-Audit-Publish — a staged batch becomes visible ONLY
  *    after its audit passes; the planted bad batch (nulled keys) is
  *    rejected and the published table provably never sees it. The
  *    deployment pattern every production table format ships.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round46Queries extends QueryModule {

  // ── q98: day index = days since 2024-01-01 (0..29); bitmap = BIT_OR
  //        of 1<<idx (duplicate-day safe). Week masks are literals. ─────
  def q98_activity_bitmaps(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val w1Mask = 127L            // days 0..6
    val w4Mask = 127L << 21      // days 21..27
    val bitmaps = raw
      .withColumn("ts_us", Tables.tsMicros(raw))
      .select(col("user_id"),
        expr("shiftleft(CAST(1 AS BIGINT), " +
          "datediff(to_date(ts_us), DATE '2024-01-01'))").as("bit"))
      .groupBy(col("user_id"))
      .agg(expr("bit_or(bit)").as("bm"))
    bitmaps.agg(
      count(lit(1)).as("n_users"),
      sum(when(expr(s"bm & $w1Mask") =!= 0L, 1L).otherwise(0L))
        .as("n_week1"),
      sum(when(expr(s"bm & $w4Mask") =!= 0L, 1L).otherwise(0L))
        .as("n_week4"),
      sum(when(expr(s"bm & $w1Mask") =!= 0L &&
          expr(s"bm & $w4Mask") =!= 0L, 1L).otherwise(0L))
        .as("n_retained"),
      sum(expr("bit_count(bm)")).as("total_active_days"))
  }

  // ── d30: modal 5-token prefix per source. ────────────────────────────
  def d30_boilerplate(s: SparkSession, dir: String): DataFrame = {
    val pfx = Tables.load(s, dir, "documents")
      .select(col("source"),
        concat_ws(" ", slice(graft.functions.Text.tokens(col("text")),
          1, 5)).as("prefix"))
    val counts = pfx.groupBy(col("source"), col("prefix"))
      .agg(count(lit(1)).as("n_pfx"))
    val totals = pfx.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_pfx").desc, col("prefix"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .join(totals, "source")
      .select(col("source"), col("n_docs"),
        col("prefix").as("top_prefix"), col("n_pfx").as("n_top"),
        expr("n_pfx * 10000 div n_docs").as("boilerplate_bp"))
      .orderBy(col("source"))
  }

  // ── p35: stage → audit → publish. The audit gate: >0 rows, no null
  //        keys, positive revenue. The bad batch nulls every 7th key —
  //        rejected, so the manifest keeps exactly one version and the
  //        published read equals the good batch. ───────────────────────
  def p35_write_audit_publish(s: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val pubDir = graft.Scratch.dir("p35_pub", dir)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new Path(pubDir), true) // idempotent re-run
    def stage(df: DataFrame, name: String): String = {
      val d = graft.Scratch.dir(s"p35_stage_$name", dir)
      df.write.mode("overwrite").parquet(d); d
    }
    def audit(d: String): Boolean = {
      val df = s.read.parquet(d)
      val row = df.agg(count(lit(1)).as("n"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("nulls"),
        sum(col("cents")).as("rev")).head()
      row.getLong(0) > 0 && row.getLong(1) == 0 && row.getLong(2) > 0
    }
    val published = scala.collection.mutable.ArrayBuffer.empty[String]
    def publish(d: String): Unit = { published += d }
    val ord = Tables.load(s, dir, "orders").select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast(LongType).as("cents"))
    val good = stage(ord, "good")
    val bad = stage(ord.withColumn("o_orderkey",
      when(col("o_orderkey") % 7 === 0, lit(null).cast(LongType))
        .otherwise(col("o_orderkey"))), "bad")
    val goodPublished = if (audit(good)) { publish(good); true } else false
    val badRejected = if (audit(bad)) { publish(bad); false } else true
    val pub = s.read.parquet(published.toSeq: _*)
    pub.agg(count(lit(1)).as("published_rows"),
        sum(col("cents")).as("published_cents"))
      .withColumn("good_published", lit(goodPublished))
      .withColumn("bad_rejected", lit(badRejected))
      .withColumn("n_versions", lit(published.size.toLong))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q98_activity_bitmaps"    -> (q98_activity_bitmaps _),
    "d30_boilerplate"         -> (d30_boilerplate _),
    "p35_write_audit_publish" -> (p35_write_audit_publish _))

  val oracles: Map[String, String] = Map(
    "q98_activity_bitmaps" ->
      """WITH b AS (
        |  SELECT user_id,
        |    bit_or(CAST(1 AS BIGINT) <<
        |      date_diff('day', DATE '2024-01-01',
        |        CAST(CAST(ts AS TIMESTAMP) AS DATE))) AS bm
        |  FROM events GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(CASE WHEN (bm & 127) <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_week1,
        |  CAST(SUM(CASE WHEN (bm & (127::BIGINT << 21)) <> 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_week4,
        |  CAST(SUM(CASE WHEN (bm & 127) <> 0
        |    AND (bm & (127::BIGINT << 21)) <> 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_retained,
        |  CAST(SUM(bit_count(bm)) AS BIGINT) AS total_active_days
        |FROM b""".stripMargin,
    "d30_boilerplate" ->
      """WITH pfx AS (
        |  SELECT source,
        |    array_to_string(string_split_regex(trim(text), '\s+')[1:5], ' ')
        |      AS prefix
        |  FROM documents),
        |c AS (SELECT source, prefix, COUNT(*) AS n_pfx FROM pfx
        |      GROUP BY 1, 2),
        |tot AS (SELECT source, COUNT(*) AS n_docs FROM pfx GROUP BY 1),
        |top AS (
        |  SELECT source, prefix, n_pfx FROM (
        |    SELECT source, prefix, n_pfx,
        |      ROW_NUMBER() OVER (PARTITION BY source
        |        ORDER BY n_pfx DESC, prefix) AS rk
        |    FROM c) WHERE rk = 1)
        |SELECT t.source, t.n_docs, x.prefix AS top_prefix,
        |  x.n_pfx AS n_top, x.n_pfx * 10000 // t.n_docs AS boilerplate_bp
        |FROM top x JOIN tot t USING (source)
        |ORDER BY t.source""".stripMargin,
    "p35_write_audit_publish" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS published_rows,
        |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |    AS published_cents,
        |  TRUE AS good_published, TRUE AS bad_rejected,
        |  CAST(1 AS BIGINT) AS n_versions
        |FROM orders""".stripMargin)
}
