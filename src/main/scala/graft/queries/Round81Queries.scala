package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.Tables
import graft.streaming.Drain.drain

/** Eighty-first batch — physical layout evolution, a randomness gate,
  * and the χ² monitor's streaming twin:
  *
  *  - p41: PARTITION EVOLUTION — the 1995-Q1 order slice rewritten from
  *    day partitioning (90 directories, one file each via
  *    repartition(1)) to month partitioning (3 directories), with the
  *    audit a real migration needs: per-month row counts identical
  *    across layouts, the file-count collapse recorded, and partition
  *    PRUNING proven on the new layout (reading one month touches
  *    exactly one file — `inputFiles` on the filtered scan). The
  *    trade-off this encodes: day partitions prune finer but drown the
  *    planner in small files; month partitions are what the access
  *    pattern (monthly rollups) actually wants.
  *  - q120: Wald-Wolfowitz runs test on daily 1995 revenue vs its lower
  *    median — is the above/below-median sequence random, or does
  *    revenue trend? Runs counted by adjacent-flip lag; E[R] exact in
  *    ppm (integer div); Var's integer numerator / denominator enter
  *    one double division and an IEEE sqrt (bit-identical), z rounded
  *    to 6. The drift-vs-noise gate for SEQUENTIAL monitors, paired
  *    with q119's categorical χ².
  *  - e30: q119's χ² through streaming ingest — the 35-cell dow×type
  *    rollup maintained as a streaming aggregation, the test computed
  *    in batch on the drained state. Monitor deployments run exactly
  *    this split: cheap mergeable state on the stream, the statistics
  *    at read time. Shares q119's oracle.
  *
  * Reference scope: beyond-reference LLM-pipeline + analytics surface
  * (the reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round81Queries extends QueryModule {

  // ── p41: day → month partition evolution with pruning proof ───────────

  def p41_partition_evolution(s: SparkSession, dir: String): DataFrame = {
    val v1 = graft.Scratch.dir("p41_daily", dir)
    val v2 = graft.Scratch.dir("p41_monthly", dir)
    val slice = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= "1995-01-01" &&
        col("o_orderdate") < "1995-04-01")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate").cast("string").as("d"))
    // Round-14 (guide §6): repartition BY THE PARTITION COLUMN, not to 1 —
    // the old single task opened all ~90 day writers sequentially (the
    // driver-bottleneck shape §5 warns about); keying the exchange by
    // d/m spreads partition dirs across tasks and still yields exactly
    // one file per dir (a dir's rows land in one task), so files_v2 and
    // the pruned-file count are unchanged at any core count.
    slice.repartition(col("d")).write.mode("overwrite").partitionBy("d")
      .parquet(v1)
    // ONE read of the day layout: each bare-path `read.parquet` builds a
    // fresh InMemoryFileIndex (a 90-dir driver listing job); the migration
    // read and the v1 census share the same DataFrame (round 14, §6)
    val v1df = s.read.parquet(v1)
    val monthly = v1df.withColumn("m", substring(col("d"), 1, 7))
    monthly.repartition(col("m")).write.mode("overwrite").partitionBy("m")
      .parquet(v2)
    val perV1 = v1df
      .groupBy(substring(col("d"), 1, 7).as("month"))
      .agg(count(lit(1)).as("n_v1"),
        count_distinct(col("d")).as("files_v1"))
    val perV2 = s.read.parquet(v2)
      .groupBy(col("m").as("month")).agg(count(lit(1)).as("n_v2"))
    // pruning proof: a one-month predicate on the new layout resolves to
    // one partition directory holding exactly one data file (physical
    // listing — partition dirs are the pruning unit)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      s.sparkContext.hadoopConfiguration)
    val prunedFiles = fs.listStatus(
        new org.apache.hadoop.fs.Path(v2, "m=1995-02"))
      .count(st => st.getPath.getName.startsWith("part-")).toLong
    perV1.join(perV2, "month")
      .select(col("month"), col("n_v1"), col("n_v2"),
        (col("n_v1") === col("n_v2")).as("counts_equal"),
        col("files_v1"), lit(1L).as("files_v2"),
        lit(prunedFiles).as("pruned_read_files"))
      .orderBy(col("month"))
  }

  // ── q120: Wald-Wolfowitz runs test on daily revenue ───────────────────

  def q120_runs_test(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= "1995-01-01" &&
        col("o_orderdate") < "1996-01-01")
      .groupBy(col("o_orderdate").cast("string").as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast(LongType)).as("rev"))
      .localCheckpoint()
    val n = daily.count()
    val med = daily.select(col("rev"))
      .withColumn("rn", row_number().over(Window.orderBy(col("rev"))))
      .filter(col("rn") === (n + 1) / 2)
      .select(col("rev").as("med"))
    val b = daily.crossJoin(broadcast(med))
      .select(col("d"), (col("rev") > col("med")).as("hi"))
    val w = Window.orderBy(col("d"))
    val flips = b
      .withColumn("flip",
        when(lag(col("hi"), 1).over(w).isNull ||
          lag(col("hi"), 1).over(w) =!= col("hi"), 1L).otherwise(0L))
      .agg(sum(col("flip")).as("runs"),
        sum(when(col("hi"), 1L).otherwise(0L)).as("n1"),
        count(lit(1)).as("n"))
      .withColumn("n2", col("n") - col("n1"))
    flips.select(col("runs"), col("n1"), col("n2"), col("n"),
        expr("((n + 2 * n1 * n2) * 1000000) div n").as("e_runs_ppm"),
        round((col("runs").cast(DoubleType) -
          (lit(1.0) + lit(2.0) * col("n1") * col("n2") / col("n"))) /
          sqrt((lit(2.0) * col("n1") * col("n2") *
            (lit(2.0) * col("n1") * col("n2") - col("n"))) /
            (col("n").cast(DoubleType) * col("n") * (col("n") - 1))), 6)
          .as("z"))
  }

  // ── e30: streaming χ² — rollup on the stream, test at read time ───────

  def e30_stream_chi2(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.stream(s, dir, "events")
    val agg = raw
      .withColumn("ts_us", Tables.tsMicros(raw))
      .groupBy(
        (datediff(col("ts_us").cast("date"), lit("2024-01-01")) % 7)
          .cast(LongType).as("dow"),
        col("event_type").as("et"))
      .agg(count(lit(1)).as("obs"))
    val o = drain(agg, "complete").localCheckpoint(true)
    val rt = o.groupBy(col("dow")).agg(sum(col("obs")).as("rtot"))
    val ct = o.groupBy(col("et")).agg(sum(col("obs")).as("ctot"))
    val n = o.agg(sum(col("obs")).as("n"))
    val terms = o.join(broadcast(rt), "dow").join(broadcast(ct), "et")
      .crossJoin(broadcast(n))
      .select(expr(
        "(CAST(obs AS DECIMAL(38,0)) * n - CAST(rtot AS DECIMAL(38,0)) * ctot)" +
          " * (CAST(obs AS DECIMAL(38,0)) * n - CAST(rtot AS DECIMAL(38,0)) * ctot)" +
          " * 1000000" +
          " div (CAST(rtot AS DECIMAL(38,0)) * ctot * n)").as("term_ppm"))
    terms.agg(sum(col("term_ppm")).as("chi2_ppm"))
      .select(col("chi2_ppm"), lit(24L).as("dof"),
        (col("chi2_ppm") > 42979800L).as("reject_99"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p41_partition_evolution" -> (p41_partition_evolution _),
    "q120_runs_test"          -> (q120_runs_test _),
    "e30_stream_chi2"         -> (e30_stream_chi2 _))

  val oracles: Map[String, String] = Map(
    "p41_partition_evolution" ->
      """SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |  CAST(COUNT(*) AS BIGINT) AS n_v1,
        |  CAST(COUNT(*) AS BIGINT) AS n_v2,
        |  TRUE AS counts_equal,
        |  CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS files_v1,
        |  CAST(1 AS BIGINT) AS files_v2,
        |  CAST(1 AS BIGINT) AS pruned_read_files
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-04-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q120_runs_test" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS VARCHAR) AS d,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS rev
        |  FROM orders
        |  WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
        |    AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
        |  GROUP BY 1),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
        |med AS (
        |  SELECT rev AS med FROM (
        |    SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, rev) AS rn
        |    FROM daily) CROSS JOIN nn WHERE rn = (nn.n + 1) // 2),
        |b AS (SELECT d, daily.rev > med.med AS hi
        |  FROM daily CROSS JOIN med),
        |fl AS (
        |  SELECT CASE WHEN LAG(hi) OVER (ORDER BY d) IS NULL
        |    OR LAG(hi) OVER (ORDER BY d) <> hi THEN 1 ELSE 0 END AS flip,
        |    hi
        |  FROM b),
        |agg AS (
        |  SELECT CAST(SUM(flip) AS BIGINT) AS runs,
        |    CAST(SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM fl)
        |SELECT runs, n1, n - n1 AS n2, n,
        |  ((n + 2 * n1 * (n - n1)) * 1000000) // n AS e_runs_ppm,
        |  ROUND((CAST(runs AS DOUBLE) -
        |    (1.0 + 2.0 * n1 * (n - n1) / n)) /
        |    sqrt((2.0 * n1 * (n - n1) * (2.0 * n1 * (n - n1) - n)) /
        |      (CAST(n AS DOUBLE) * n * (n - 1))), 6) AS z
        |FROM agg""".stripMargin,
    "e30_stream_chi2" -> Round80Queries.oracles("q119_chi2_independence"))
}
