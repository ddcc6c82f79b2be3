package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.VideoExprs
import graft.streaming.Drain.drain
import SketchSql.textByte

/** Forty-fifth batch — reader-layer resilience, streaming video signal,
  * and cohort economics:
  *
  *  - p34: PERMISSIVE corrupt-record CSV ingest — planted malformed
  *    lines land in the `columnNameOfCorruptRecord` column instead of
  *    killing the read; good rows aggregate exactly. The PARSE-level
  *    quarantine (p9 is rule-level, m9 is binary-level — this completes
  *    the three-layer dirty-data story).
  *  - e25: streaming twin of m13's scene-cut signal — per-source MAFD
  *    totals maintained by one stateful aggregation over the document
  *    stream, decode-per-row (stateless expression, poison-safe).
  *  - q97: cohort LTV triangle — signup-week cohorts × weeks-since-
  *    signup cumulative purchase value in exact cents; the
  *    growth-economics staple one level up from q66's retention counts.
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round45Queries extends QueryModule {

  private val BadLines = Seq(
    "not_a_number,garbage-one,99x",
    "NaNkey,garbage-two,",
    "12.5.7,garbage-three,0y",
    ",,zz",
    "key0x1,garbage-five,--")

  // ── p34: write the parts slice as a single CSV, append 5 malformed
  //        lines, read back PERMISSIVE with a corrupt-record column.
  //        Bad rows quarantine; good rows must aggregate exactly. ───────
  def p34_csv_permissive(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Scratch.dir("p34_csv", dir) + "/parts.csv"
    val slice = Tables.load(s, dir, "part").select(col("p_partkey"), col("p_name"),
      round(col("p_retailprice") * 100).cast(LongType).as("cents"))
    graft.sinks.CsvSink.writeSingleFile(slice, path)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (BadLines.mkString("\n") + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    val schema = StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_name", StringType),
      StructField("cents", LongType),
      StructField("_bad", StringType)))
    val back = s.read.schema(schema)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(path)
      .cache()
    back.agg(
      count(when(col("_bad").isNull, 1)).as("n_good"),
      count(col("_bad")).as("n_bad"),
      sum(when(col("_bad").isNull, col("cents"))).as("good_cents"),
      sum(when(col("_bad").isNull, col("p_partkey"))).as("key_checksum"))
  }

  private val W = 8; private val H = 8; private val NFrames = 4

  // ── e25: decode + MAFD per row, ONE stateful per-source aggregation
  //        in complete mode (state = |sources| rows). ───────────────────
  def e25_stream_scene_cuts(s: SparkSession, dir: String): DataFrame = {
    val stream = Tables.stream(s, dir, "documents")
      .withColumn("deltas", VideoExprs.frameYDeltas(
        when(col("doc_id") % 2 === 0,
          VideoExprs.encodeY4mFromText(col("text"), W, H, NFrames,
            omitC = true))
        .otherwise(VideoExprs.encodeY4mFromText(col("text"), W, H,
          NFrames, omitC = false))))
      .withColumn("doc_mad",
        expr("aggregate(deltas, CAST(0 AS BIGINT), (a, d) -> a + d)"))
      .withColumn("doc_cuts",
        expr("CAST(size(filter(deltas, d -> d div 64 >= 80)) AS BIGINT)"))
    val agg = stream.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_mad")).as("total_mad"),
        sum(col("doc_cuts")).as("n_cut_pairs"))
    drain(agg, "complete").orderBy(col("source"))
  }

  // ── q97: cohort = signup week per user (first signup event); LTV
  //        cell (cohort_week, weeks_since) = cumulative purchase cents
  //        of that cohort through that relative week. Two aggregates +
  //        one window over the (≤ weeks²) triangle. ────────────────────
  def q97_cohort_ltv(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val ev = raw.withColumn("day", to_date(Tables.tsMicros(raw)))
      .withColumn("week", expr(
        "date_sub(day, CAST((datediff(day, DATE '2024-01-01') % 7) AS INT))"))
    val cohorts = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("week"),
        round(col("value") * 100).cast(LongType).as("cents"))
    val cells = purchases.join(cohorts, "user_id")
      .filter(col("week") >= col("cohort_week"))
      .withColumn("weeks_since",
        expr("CAST(datediff(week, cohort_week) div 7 AS BIGINT)"))
      .groupBy(col("cohort_week"), col("weeks_since"))
      .agg(sum(col("cents")).as("week_cents"),
        countDistinct(col("user_id")).as("n_buyers"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort_week")).orderBy(col("weeks_since"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    cells.withColumn("cum_cents", sum(col("week_cents")).over(w))
      .select(col("cohort_week"), col("weeks_since"), col("n_buyers"),
        col("week_cents"), col("cum_cents"))
      .orderBy(col("cohort_week"), col("weeks_since"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p34_csv_permissive"    -> (p34_csv_permissive _),
    "e25_stream_scene_cuts" -> (e25_stream_scene_cuts _),
    "q97_cohort_ltv"        -> (q97_cohort_ltv _))

  private val FrameSize = 96
  private val YSize = 64
  val oracles: Map[String, String] = Map(
    "p34_csv_permissive" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
        |  CAST(5 AS BIGINT) AS n_bad,
        |  CAST(SUM(CAST(ROUND(p_retailprice*100) AS BIGINT)) AS BIGINT)
        |    AS good_cents,
        |  CAST(SUM(p_partkey) AS BIGINT) AS key_checksum
        |FROM part""".stripMargin,
    "e25_stream_scene_cuts" ->
      s"""WITH d AS (
        |  SELECT source,
        |    list_transform(range(1, ${NFrames}), f ->
        |      CAST(list_sum(list_transform(range(0, $YSize), i ->
        |        abs(${textByte(s"$FrameSize*f + i")} -
        |            ${textByte(s"$FrameSize*(f-1) + i")}))) AS BIGINT)) AS deltas
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(list_sum(deltas)) AS BIGINT) AS total_mad,
        |  CAST(SUM(len(list_filter(deltas, x -> x // 64 >= 80)))
        |    AS BIGINT) AS n_cut_pairs
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q97_cohort_ltv" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    CAST(ROUND(value*100) AS BIGINT) AS cents,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |      - CAST(date_diff('day', DATE '2024-01-01',
        |          CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 7 AS INT)
        |      AS week
        |  FROM events),
        |cohorts AS (
        |  SELECT user_id, MIN(week) AS cohort_week FROM ev
        |  WHERE event_type = 'signup' GROUP BY 1),
        |cells AS (
        |  SELECT c.cohort_week,
        |    CAST(date_diff('day', c.cohort_week, e.week) // 7 AS BIGINT)
        |      AS weeks_since,
        |    CAST(SUM(e.cents) AS BIGINT) AS week_cents,
        |    CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_buyers
        |  FROM ev e JOIN cohorts c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.week >= c.cohort_week
        |  GROUP BY 1, 2)
        |SELECT cohort_week, weeks_since, n_buyers, week_cents,
        |  CAST(SUM(week_cents) OVER (PARTITION BY cohort_week
        |    ORDER BY weeks_since ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cum_cents
        |FROM cells ORDER BY cohort_week, weeks_since""".stripMargin)
}
