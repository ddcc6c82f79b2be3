package perfbench

import org.apache.spark.sql.SparkSession

/** The per-layer metrics a traced run prints, in print order. Every
  * traced run prints all of them; a layer a workload does not use reads 0.
  * Values are per op unless the README says otherwise. */
object Layers {
  val graded14: Seq[String] = Seq(
    "q1_agg", "q3_join_agg", "q5_window", "q20_asof_join", "q36_range_join",
    "d3_minhash_lsh", "d7_dup_clusters", "s1_cosine_topk", "s3_ann_ivf_topk",
    "s7_ann_ivf_persisted", "d14_incremental_dedup",
    "t4_token_count", "e4_stream_hourly", "m1_multimodal_features")

  val units: Seq[(String, String)] = Seq(
    "plan.parse_s" -> "s",
    "sources.extract_s" -> "s", "sources.jobs" -> "count",
    "sources.read_mb" -> "MB", "sources.scan_exec_s" -> "s",
    "functions.strptime_exec_s" -> "s",
    "transform.build_s" -> "s", "transform.jobs" -> "count",
    "quality.dq_s" -> "s", "quality.dq_jobs" -> "count",
    "quality.dq_read_mb" -> "MB",
    "sinks.load_s" -> "s", "sinks.load_jobs" -> "count",
    "sinks.load_read_mb" -> "MB", "sinks.out_mb" -> "MB",
    "quality.verify_s" -> "s", "quality.verify_jobs" -> "count",
    "quality.verify_read_mb" -> "MB",
    "engine.alerts" -> "count", "trace.coverage" -> "ratio",
    "trace.overhead_s" -> "s",
    "tables.load_s" -> "s", "tables.load_jobs" -> "count",
    "queries.build_s" -> "s", "queries.build_jobs" -> "count") ++
    graded14.map(q => s"query.${q}_s" -> "s") ++ Seq(
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.tasks" -> "count",
    "exec.task_s" -> "s", "exec.shuffle_write_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.gc_s" -> "s", "exec.read_mb" -> "MB",
    "exec.read_amplification" -> "ratio")

  /** The listener's counts as `exec.*` values. */
  def exec(c: Counts): Map[String, Double] = Map(
    "exec.s" -> c.execS, "exec.jobs" -> c.jobs.toDouble,
    "exec.tasks" -> c.tasks.toDouble, "exec.task_s" -> c.taskS,
    "exec.shuffle_write_mb" -> c.shuffleWriteBytes / 1048576.0,
    "exec.spill_mb" -> c.spillBytes / 1048576.0, "exec.gc_s" -> c.gcS,
    "exec.read_mb" -> c.readBytes / 1048576.0)

  /** Per key, the mean over the ops that report it. */
  def mean(ops: Seq[Map[String, Double]]): Map[String, Double] =
    ops.flatMap(_.keySet).distinct
      .map(k => k -> Stats.mean(ops.flatMap(_.get(k)))).toMap

  def report(values: Map[String, Double]): Seq[(String, Metric)] =
    units.map { case (k, u) => k -> Metric(values.getOrElse(k, 0.0), u) }

  /** The CSV-side probes, read side by side: a count over the raw `sales`
    * view's Date column, and a count over the plan's COALESCE(try_strptime)
    * projection of it. Median of three each. */
  def csvProbes(spark: SparkSession, meter: Meter): Map[String, Double] = {
    def probe(sql: String): Double =
      Stats.median((1 to 3).map(_ => meter.measure(spark.sql(sql).collect())._2))
    Map(
      "sources.scan_exec_s" -> probe("SELECT count(Date) FROM sales"),
      "functions.strptime_exec_s" -> probe(
        "SELECT count(COALESCE(try_strptime(Date, '%m/%d/%Y'), " +
          "try_strptime(Date, '%Y-%m-%d'))) FROM sales"))
  }
}
