package graft

import scala.util.Try
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet testdata (TESTDATA.md).
  *
  * One parquet file per table under `\$sfDir/<name>.parquet`. All queries
  * load through here so the scan options stay uniform. At cluster scale the
  * same code works unchanged: parquet scans are split per row-group, filters
  * and column pruning are pushed into the scan by Catalyst.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Table `name`, read with the schema of its one file's footer. The
    * footer is read on the driver and converted by Spark's own converter
    * under the session conf (so `nanosAsLong` still decides `events.ts`);
    * Spark's inference would run a job for the same read. A path that is
    * not a file (missing, or a directory) goes to Spark's own read, which
    * raises its path error or infers the directory. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val file = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    Try(file.getFileSystem(conf).getFileStatus(file)).filter(_.isFile)
      .toOption match {
      case None => spark.read.parquet(path)
      case Some(status) =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(status, conf), SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(status.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(schema).parquet(path)
    }
  }

  /** Table `name` as a file stream: the streaming file source wants a
    * directory, so it reads `sfDir` glob-filtered to the one table file,
    * with the batch table's schema (its footer's, read on the driver). */
  def stream(spark: SparkSession, sfDir: String, name: String): DataFrame =
    stream(spark, sfDir, name, load(spark, sfDir, name).schema)

  /** [[stream]] with a schema the caller already has (from its own batch
    * load of the same table), so no second schema read runs. */
  def stream(spark: SparkSession, sfDir: String, name: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("pathGlobFilter", s"$name.parquet").parquet(sfDir)

  /** Register every table as a temp view so `spark.sql` queries (and the
    * engine's transform steps) can reference them by name, mirroring the
    * reference's DuckDB `con.register(name, df)` (templates.py:79-82). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** Scale-adaptive scan spread (round 14, guide §2.5 "input skew"): a
    * small parquet fixture is one row group, so its scan plans as a
    * single partition — and any per-row-HEAVY operator downstream
    * (tokenize+shingle+hash, image decode, n²-expanding vector math)
    * serializes behind one core while 31 idle; AQE cannot split a scan.
    * When the planned scan has fewer partitions than the cluster's
    * default parallelism, repartition up to it; at production scale the
    * row-group count already exceeds the core count and this is the
    * identity — no shuffle is ever added for a big input. */
  def spread(df: DataFrame): DataFrame = {
    // a streaming plan cannot be probed via .rdd (and its per-batch
    // partitioning is the source's); leave it to the caller's explicit
    // stream repartition when the per-row work warrants one
    if (df.isStreaming) return df
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** [[spread]] plus a lazy RDD barrier. Needed when the caller's very
    * next projection is ONE heavy single-use expression: CollapseProject
    * happily pushes such a projection below a repartition (its used-once
    * check ignores execution multiplicity), silently undoing the spread.
    * The barrier only exists in the small-scan case, so nothing is ever
    * cached for a production-width input. */
  def spreadBarrier(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p)
      df.repartition(p).localCheckpoint(false)
    else df
  }

  /** `events.ts` normalized to a µs-precision `TimestampType` column, across
    * both testdata generations: `timestamp[ns]` parquet arrives as LongType
    * nanoseconds (under `spark.sql.legacy.parquet.nanosAsLong`), while
    * `timestamp[us]` arrives as TIMESTAMP_NTZ. The NTZ→TZ cast in the UTC
    * session keeps the same microsecond value the nanos path produced, so
    * every downstream plan and result is unchanged. Works on streaming
    * DataFrames too (the schema is known before the stream starts). */
  def tsMicros(df: DataFrame, colName: String = "ts"): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(colName).dataType match {
      case LongType =>
        // Integer arithmetic only: epoch nanos (~1.7e18) exceed double's
        // 2^53 exact range, so `/` (which widens to double) would lose µs
        // precision. `x - pmod(x, 1000)` is the largest multiple of 1000
        // ≤ x, so the IntegralDivide *floors* — correct for pre-epoch
        // (negative) nanos too, where bare `div` truncates toward zero.
        val q = s"`${colName.replace("`", "``")}`"
        timestamp_micros(expr(s"($q - pmod($q, 1000)) div 1000"))
      case TimestampNTZType => col(colName).cast(TimestampType)
      case _                => col(colName)
    }
  }
}
