package graft.operators

import java.nio.file.{Files, Path, Paths}
import scala.util.Using
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructType, TimestampType}

/** Injected clock — freshness math is wall-clock-dependent in the reference
  * (`utcnow`, tools.py:116, 161); injecting it makes the gates testable
  * (SURVEY.md §7.5). */
trait Clock { def nowEpochMillis: Long }
object SystemClock extends Clock {
  def nowEpochMillis: Long = System.currentTimeMillis()
}

/** DQ gate result (reference tools.py:106-118 JSON contract). */
final case class DqResult(
    rows: Long, nonnullOk: Boolean, freshOk: Boolean, status: Boolean,
    nullCounts: Map[String, Long] = Map.empty,
    lagMinutes: Option[Double] = None)

/** Post-load verify result (reference tools.py:170-264 JSON contract). */
final case class VerifyResult(
    rows: Long, nonnullOk: Boolean, freshOk: Boolean,
    lagMinutes: Option[Double], status: Boolean, error: Option[String] = None)

/** Data-quality gate + post-load verification (SURVEY.md §2A #11-13) as
  * single-pass aggregations.
  *
  * One distributed scan computes row count, per-column null counts, and max
  * timestamp together — the reference needs a chunked loop for this
  * (tools.py:216-241) and has a bug where only the last chunk's max
  * timestamp survives (tools.py:231-241, SURVEY.md §7.4); a global `max`
  * aggregate is correct by construction and scales with partition
  * parallelism.
  */
object Quality {

  /** The single-pass DQ aggregates over `df`: `n_rows`, per-column
    * `nulls_<c>`, optional `max_ts`. Shared by the collected gate
    * ([[dqCheck]]) and a gate observed on a write (`Dataset.observe`). */
  def dqAggs(df: DataFrame, nonnullCols: Seq[String] = Nil,
      timestampCol: Option[String] = None): Seq[Column] = {
    val nullAggs = nonnullCols.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
    val tsAgg = timestampCol.map(c => max(toTs(df, c)).as("max_ts")).toSeq
    (count(lit(1)).as("n_rows") +: nullAggs) ++ tsAgg
  }

  /** The DQ metrics frame (one row) of [[dqAggs]]. Exposed so the metrics
    * themselves are a queryable operator (oracle-checkable). */
  def dqMetricsDf(df: DataFrame, nonnullCols: Seq[String] = Nil,
      timestampCol: Option[String] = None): DataFrame = {
    val aggs = dqAggs(df, nonnullCols, timestampCol)
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Pre-load DQ gate (reference tools.py:106-118, ops.py:34-47):
    * `rows >= minRows`, all `nonnullCols` fully non-null, optional
    * freshness `now − max(ts) <= freshnessMinutes`. */
  def dqCheck(df: DataFrame, minRows: Long = 1,
      nonnullCols: Seq[String] = Nil,
      freshnessMinutes: Option[Long] = None,
      timestampCol: Option[String] = None,
      clock: Clock = SystemClock): DqResult =
    dqGate(dqMetricsDf(df, nonnullCols, timestampCol).collect()(0), minRows,
      nonnullCols, freshnessMinutes, timestampCol, clock)

  /** The gate's evaluation of one [[dqAggs]] metrics row: a collected one
    * or an `Observation`'s. */
  def dqGate(metrics: Row, minRows: Long = 1,
      nonnullCols: Seq[String] = Nil,
      freshnessMinutes: Option[Long] = None,
      timestampCol: Option[String] = None,
      clock: Clock = SystemClock): DqResult = {
    val rows = metrics.getAs[Long]("n_rows")
    // a sum over zero rows is null
    val nullCounts = nonnullCols.map(c =>
      c -> Option(metrics.getAs[Any](s"nulls_$c")).map(_.asInstanceOf[Long]).getOrElse(0L)).toMap
    val nonnullOk = nullCounts.values.forall(_ == 0L)
    val lag = timestampCol.flatMap(_ =>
      Option(metrics.getAs[java.sql.Timestamp]("max_ts")))
      .map(ts => (clock.nowEpochMillis - ts.getTime) / 60000.0)
    val freshOk = freshnessMinutes match {
      case None => true
      case Some(limit) => lag.exists(_ <= limit.toDouble)
    }
    DqResult(rows, nonnullOk, freshOk,
      status = rows >= minRows && nonnullOk && freshOk,
      nullCounts = nullCounts, lagMinutes = lag)
  }

  /** Post-load CSV audit (reference tools.py:170-264, ops.py:49-109):
    * re-read the sink, same single-pass aggregation; freshness from max
    * timestamp or file-mtime fallback when no timestamp column is given
    * (tools.py:245-253). The engine passes the `schema` it wrote and
    * whether it wrote a `header`, so the read-back infers nothing; with
    * no schema the columns are inferred, as the reference's pandas read
    * does. */
  def verifyCsv(spark: SparkSession, path: String, minRows: Long = 1,
      nonnullCols: Seq[String] = Nil, timestampCol: Option[String] = None,
      maxLagMinutes: Long = 180, delimiter: String = ",",
      encoding: String = "", clock: Clock = SystemClock,
      schema: Option[StructType] = None, header: Boolean = true): VerifyResult =
    verifyFile(path, "missing or empty",
      absent = p => !Files.exists(p) || Files.size(p) == 0,
      // read back the way CsvSink wrote it: the writer quotes a value
      // holding a newline, so a record may span lines, and it escapes
      // embedded quotes with its default `\`
      read = graft.sources.Sources.loadCsv(spark, path,
        maxBytes = Long.MaxValue, delimiter = delimiter, encoding = encoding,
        options = Map("multiLine" -> "true", "header" -> header.toString),
        schema = schema),
      mtimeMillis = Files.getLastModifiedTime(_).toMillis,
      minRows, nonnullCols, timestampCol, maxLagMinutes, clock)

  /** Post-load audit for the parquet directory sink (engine extension):
    * same single-pass aggregation over the re-read directory; freshness
    * from the newest part-file mtime when no timestamp column is given.
    * The directory is read with the `schema` it was written with
    * (partition columns included), so no footer is read to learn it. */
  def verifyParquet(spark: SparkSession, dir: String, schema: StructType,
      minRows: Long = 1, nonnullCols: Seq[String] = Nil,
      timestampCol: Option[String] = None, maxLagMinutes: Long = 180,
      clock: Clock = SystemClock): VerifyResult =
    verifyFile(dir, "missing", absent = !Files.exists(_),
      read = spark.read.schema(schema).parquet(dir),
      mtimeMillis = p => Using.resource(Files.walk(p))(_
        .filter(Files.isRegularFile(_))
        .mapToLong(f => Files.getLastModifiedTime(f).toMillis)
        .max().orElse(0L)),
      minRows, nonnullCols, timestampCol, maxLagMinutes, clock)

  /** The file sinks' shared audit: fail closed with `missing` when the
    * output at `path` is `absent`; otherwise the single-pass DQ aggregation
    * over the re-`read` output, with freshness from the max timestamp, or
    * from the output's `mtimeMillis` when no timestamp column is given. */
  private def verifyFile(path: String, missing: String,
      absent: Path => Boolean, read: => DataFrame, mtimeMillis: Path => Long,
      minRows: Long, nonnullCols: Seq[String], timestampCol: Option[String],
      maxLagMinutes: Long, clock: Clock): VerifyResult =
    try {
      val p = Paths.get(path)
      if (absent(p)) failed(s"$missing: $path")
      else {
        val dq = dqCheck(read, minRows, nonnullCols,
          freshnessMinutes = Some(maxLagMinutes),
          timestampCol = timestampCol, clock = clock)
        val (lag, freshOk) = timestampCol match {
          case Some(_) => (dq.lagMinutes, dq.freshOk)
          case None =>
            val l = (clock.nowEpochMillis - mtimeMillis(p)) / 60000.0
            (Some(l), l <= maxLagMinutes.toDouble)
        }
        VerifyResult(dq.rows, dq.nonnullOk, freshOk, lag,
          status = dq.rows >= minRows && dq.nonnullOk && freshOk)
      }
    } catch {
      case e: Exception => failed(e.toString)
    }

  private def failed(error: String): VerifyResult =
    VerifyResult(0, nonnullOk = false, freshOk = false, None,
      status = false, error = Some(error))

  /** Post-load DB audit (reference tools.py:120-168): COUNT(*) and MAX(ts)
    * pushed down to the database as subquery tables — only two scalar rows
    * cross the wire. */
  def verifyTable(spark: SparkSession, connStr: String, table: String,
      tsCol: Option[String] = None, maxLagMinutes: Long = 180,
      clock: Clock = SystemClock): VerifyResult =
    try {
      val (url, props) = graft.sources.Jdbc.fromSqlAlchemy(connStr)
      val qt = graft.sources.Jdbc.tableRef(table)
      def pushed(q: String): DataFrame =
        spark.read.format("jdbc").option("url", url).option("query", q)
          .options(props).load()
      // read by position: databases fold unquoted aliases differently
      // (Derby → N, Postgres → n) and COUNT may come back as INTEGER
      val rows = pushed(s"SELECT COUNT(*) AS n FROM $qt")
        .collect()(0).get(0).asInstanceOf[Number].longValue()
      val lag = tsCol.map { c =>
        val qc = graft.sources.Jdbc.quoteIdent(c)
        val r = pushed(s"SELECT MAX($qc) AS mx FROM $qt").collect()(0)
        Option(r.get(0)).map(_.asInstanceOf[java.sql.Timestamp])
          .map(ts => (clock.nowEpochMillis - ts.getTime) / 60000.0)
      }.flatten
      val freshOk = tsCol.isEmpty || lag.exists(_ <= maxLagMinutes.toDouble)
      VerifyResult(rows, nonnullOk = true, freshOk = freshOk, lag,
        status = rows > 0 && freshOk)
    } catch {
      case e: Exception => failed(e.toString)
    }

  /** Reference `pd.to_datetime(col)` equivalence: pass timestamps/dates
    * through, parse strings null-on-failure. */
  private def toTs(df: DataFrame, c: String) =
    df.schema(c).dataType match {
      case TimestampType | DateType => col(c).cast(TimestampType)
      case _ => try_to_timestamp(col(c))
    }
}
