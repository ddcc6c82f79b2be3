package perfbench

import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One metric as printed: a value with its unit. */
final case class Metric(value: Double, unit: String)

/** What a workload run reports. `metrics` holds the end-to-end metrics
  * on an untraced run and the per-layer metrics on a traced one. */
final case class Result(attempted: Int, failed: Int,
    metrics: Seq[(String, Metric)], env: Map[String, Any] = Map.empty)

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path) {
  /** A closed loop of one client: runs `op` again and again, starting a
    * new one only after the last has finished, until `seconds` have
    * passed; at least once. */
  def loop[A](seconds: Double)(op: => A): Seq[A] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val done = Seq.newBuilder[A]
    do done += op while (System.nanoTime() < deadline)
    done.result()
  }
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`. The last stdout line is the result JSON. */
object Main {
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", Paths.get(kv("work")).toAbsolutePath)
    val r = a.workload match {
      case "etl_weekly_ok"  => Etl.run(a)
      case "query_graded14" => Graded14.run(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    println(json.writeValueAsString(Map("env" -> (environment(a) ++ r.env))))
    println(json.writeValueAsString(scala.collection.immutable.ListMap(
      "correct" -> (r.failed == 0), "attempted" -> r.attempted,
      "failed" -> r.failed,
      "metrics" -> scala.collection.immutable.ListMap(r.metrics.map {
        case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit)
      }: _*))))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** The session every workload runs on: one local executor with all
    * cores, the same confs as the program's own bench harness, and all
    * scratch files under the run's work directory. */
  def session(a: Args): SparkSession = {
    val local = a.work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Seconds since the JVM started. */
  def uptimeS(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  private def environment(a: Args): Map[String, Any] = {
    val conf = SparkSession.getActiveSession.map(_.conf)
    def c(k: String) = conf.flatMap(_.getOption(k)).getOrElse("")
    Map("workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cpus" -> cpus,
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "jvm" -> System.getProperty("java.vm.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "confs" -> Seq("spark.master", "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled", "spark.sql.files.maxPartitionBytes",
        "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone")
        .map(k => k -> c(k)).toMap)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The JVM's resident-set high-water mark (Linux `VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  /** The end-to-end metrics of a closed-loop run from its op latencies. */
  def endToEnd(setupS: Double, latencies: Seq[Double]): Seq[(String, Metric)] =
    Seq(
      "setup_s" -> Metric(setupS, "s"),
      "latency_p50_s" -> Metric(median(latencies), "s"),
      "ops_per_min" -> Metric(60.0 * latencies.size / latencies.sum, "1/min"),
      "peak_rss_mb" -> Metric(peakRssMb(), "MB"))
}
