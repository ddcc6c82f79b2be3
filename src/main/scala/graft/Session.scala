package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. Bench, Verify, cli.Main, Explain, QProf and
  * the spec base all build their session here, so every entry point runs
  * the same configuration. A caller that needs another static conf passes
  * it in `conf`.
  *
  * Environment (read only here):
  *   - `SPARK_GRAFT_CPUS`: local cores and shuffle partitions; default every
  *     core the JVM sees.
  *   - `SPARK_MASTER`: master URL; default `local[cpus]`.
  *   - `SPARK_GRAFT_MAX_PARTITION_BYTES`: scan split size, applied only when
  *     set (Spark's own default is 128 MiB).
  *   - `SPARK_GRAFT_SF_DIR`: the scale-factor directory Bench and QProf read;
  *     default `~/testdata/sf0.1`.
  */
object Session {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    java.nio.file.Paths.get(sys.props("user.home"), "testdata", "sf0.1")
      .toString)

  def create(cpus: Int = Session.cpus,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark rejects by
      // default; read as LongType nanos and convert explicitly (Tables).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    // Scan-split knob for oversized single files (round-12 sf1 lesson): a
    // one-file table under the default 128 MB split means ONE task per
    // scan, serializing CPU-heavy per-row operators. Real deployments have
    // many files; for single-file test dirs set this to ~total_bytes/cores.
    sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
      .foreach(b.config("spark.sql.files.maxPartitionBytes", _))
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
