package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Sixtieth batch — trend forecasting and layout economics:
  *
  *  - q108: Holt linear-trend smoothing (Holt 1957, public) of each
  *    event type's daily series — level + trend state folded in day
  *    order with α = β = 1/2 on the integer lattice (truncating
  *    division everywhere — DuckDB's integer `//` truncates toward
  *    zero exactly like the JVM's `/`, so negative trends replay
  *    identically), one-step forecast = level + trend. Third fold shape on
  *    [[graft.operators.OrderedScan]] (after the clamp and the EWMA):
  *    same single-exchange secondary sort, O(1) state per key, and a
  *    recurrence that windows cannot express because each halving
  *    truncates. The forecasting complement of q103's changepoint
  *    detector on the identical dense daily grid.
  *  - p37: clustering-layout economics — WHY a lakehouse clusters files:
  *    the same zone-map consultation p36 executes physically, audited
  *    under two layouts (files clustered by the n_chars band vs
  *    scattered by doc_id mod 8). Both manifests answer the same range
  *    query; the clustered layout opens a fraction of the files and
  *    scans a fraction of the rows, the scattered one opens everything
  *    — the rows_scanned column is the 100 TB bill difference. Two
  *    bounded group-bys; matched rows are identical by construction
  *    (zone maps never drop matches).
  *
  * Reference scope: extensions beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round60Queries extends QueryModule {

  def q108_holt_trend(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    val daily = raw
      .withColumn("day", to_date(Tables.tsMicros(raw)))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("x"))
    val grid = daily.select(col("event_type")).distinct()
      .crossJoin(s.range(30).select(
        expr("date_add(DATE '2024-01-01', CAST(id AS INT))").as("day")))
    val dense = grid.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("x"), lit(0L)).as("x"))
    val keyed = dense.withColumn("tid",
      expr("CAST(conv(substring(md5(event_type), 1, 8), 16, 10) AS BIGINT)"))
    val scanned = graft.operators.OrderedScan.holtTrend(
        keyed, col("tid"), Seq(col("day")), col("x"))
      .withColumnRenamed("k", "tid")
    keyed.select(col("tid"), col("event_type")).distinct()
      .join(scanned, "tid")
      .select(col("event_type"), col("n_steps"), col("final_level"),
        col("final_trend"),
        (col("final_level") + col("final_trend")).as("forecast_next"),
        col("max_level"))
      .orderBy(col("event_type"))
  }

  def p37_layout_audit(s: SparkSession, dir: String): DataFrame = {
    import Round59Queries.{BandW, PruneLo, PruneHi}
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val matched = docs
      .filter(col("n_chars") >= PruneLo && col("n_chars") <= PruneHi)
      .agg(count(lit(1)).as("n_rows_matched"))
    def audit(layout: String, shardExpr: String): DataFrame = {
      val mf = docs.select(col("n_chars"), expr(shardExpr).as("shard"))
        .groupBy(col("shard"))
        .agg(min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"),
          count(lit(1)).as("nrows"))
      val totals = mf.agg(count(lit(1)).as("n_files_total"))
      val sel = mf.filter(col("mx") >= PruneLo && col("mn") <= PruneHi)
        .agg(count(lit(1)).as("n_files_read"),
          coalesce(sum(col("nrows")), lit(0L)).as("rows_scanned"))
      totals.crossJoin(sel).crossJoin(matched)
        .select(lit(layout).as("layout"), col("n_files_total"),
          col("n_files_read"), col("rows_scanned"), col("n_rows_matched"))
    }
    audit("clustered", s"cast(least(n_chars div $BandW, 7) as int)")
      .unionByName(audit("scattered", "cast(doc_id % 8 as int)"))
      .orderBy(col("layout"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q108_holt_trend"  -> (q108_holt_trend _),
    "p37_layout_audit" -> (p37_layout_audit _))

  val oracles: Map[String, String] = Map(
    "q108_holt_trend" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT t.event_type,
        |    CAST(DATE '2024-01-01' + CAST(r.range AS INT) AS DATE) AS day
        |  FROM (SELECT DISTINCT event_type FROM daily) t
        |  CROSS JOIN range(0, 30) r),
        |dense AS (
        |  SELECT g.event_type, g.day, COALESCE(d.x, 0) AS x
        |  FROM grid g LEFT JOIN daily d
        |    ON d.event_type = g.event_type AND d.day = g.day),
        |r AS MATERIALIZED (
        |  SELECT event_type, x,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM dense),
        |walk(event_type, rn, l, b, mx) AS (
        |  SELECT event_type, rn, x, 0::BIGINT, x FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.event_type, r.rn,
        |    (r.x + w.l + w.b) // 2,
        |    (w.b + ((r.x + w.l + w.b) // 2 - w.l)) // 2,
        |    GREATEST(w.mx, (r.x + w.l + w.b) // 2)
        |  FROM walk w JOIN r
        |    ON r.event_type = w.event_type AND r.rn = w.rn + 1),
        |fin AS (SELECT event_type, MAX(rn) AS n_steps FROM walk GROUP BY 1)
        |SELECT w.event_type, f.n_steps, w.l AS final_level,
        |  w.b AS final_trend, w.l + w.b AS forecast_next,
        |  w.mx AS max_level
        |FROM walk w JOIN fin f
        |  ON f.event_type = w.event_type AND w.rn = f.n_steps
        |ORDER BY w.event_type""".stripMargin,
    "p37_layout_audit" -> {
      import Round59Queries.{BandW, PruneLo, PruneHi}
      def auditSql(layout: String, shardSql: String): String =
        s"""SELECT '$layout' AS layout,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM mf_$layout)
           |    AS n_files_total,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sel_$layout)
           |    AS n_files_read,
           |  (SELECT CAST(COALESCE(SUM(nrows), 0) AS BIGINT)
           |     FROM sel_$layout) AS rows_scanned,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM d
           |   WHERE n_chars BETWEEN $PruneLo AND $PruneHi)
           |    AS n_rows_matched""".stripMargin
      def mfSql(layout: String, shardSql: String): String =
        s"""mf_$layout AS (
           |  SELECT $shardSql AS shard, MIN(n_chars) AS mn,
           |    MAX(n_chars) AS mx, CAST(COUNT(*) AS BIGINT) AS nrows
           |  FROM d GROUP BY 1),
           |sel_$layout AS (
           |  SELECT * FROM mf_$layout
           |  WHERE mx >= $PruneLo AND mn <= $PruneHi)""".stripMargin
      s"""WITH d AS (SELECT doc_id, n_chars FROM documents),
         |${mfSql("clustered", s"least(n_chars // $BandW, 7)")},
         |${mfSql("scattered", "doc_id % 8")}
         |${auditSql("clustered", "")}
         |UNION ALL
         |${auditSql("scattered", "")}
         |ORDER BY layout""".stripMargin
    })
}
