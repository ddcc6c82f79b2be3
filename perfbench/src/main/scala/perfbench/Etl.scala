package perfbench

import java.nio.file.{Files, Path}
import graft.engine.{Alerter, Engine, RunResult}
import graft.operators.{Quality, Transform}
import graft.plan.PlanParser
import graft.sinks.CsvSink
import graft.sources.Sources
import org.apache.spark.sql.SparkSession

/** Records alerts instead of sending them. */
final class RecordingAlerter extends Alerter {
  val sent = scala.collection.mutable.ArrayBuffer[(String, String)]()
  def send(channel: String, message: String): String = {
    sent += ((channel, message)); "sent"
  }
}

/** The `etl_weekly_ok` workload: the flagship plan through `Engine.run`,
  * one op at a time, with a passing DQ gate. Each run also checks once
  * that the same plan with a failing gate is rejected. */
object Etl {
  val Channel = "slack://#data-alerts"

  def planYaml(t: Triplet, out: Path, minRows: Long): String =
    s"""limits:
       |  max_input_bytes: 1073741824
       |source:
       |  kind: csv
       |  csv:
       |    paths: {sales: ${t.sales}, features: ${t.features}, stores: ${t.stores}}
       |transform:
       |  steps:
       |    - name: cleaned
       |      sql: |
       |        SELECT CAST(Store AS INT) AS Store, CAST(Dept AS INT) AS Dept,
       |               COALESCE(try_strptime(Date, '%m/%d/%Y'),
       |                        try_strptime(Date, '%Y-%m-%d')) AS d,
       |               COALESCE(CAST(Weekly_Sales AS DOUBLE), 0.0) AS Weekly_Sales,
       |               CAST(IsHoliday AS BOOLEAN) AS IsHoliday
       |        FROM sales
       |    - name: weekly
       |      sql: |
       |        SELECT c.Store, c.Dept, CAST(DATE_TRUNC('week', c.d) AS DATE) AS week,
       |               SUM(c.Weekly_Sales) AS weekly_sales,
       |               AVG(c.Weekly_Sales) AS avg_weekly_sales,
       |               SUM(CASE WHEN c.IsHoliday THEN c.Weekly_Sales ELSE 0.0 END) AS holiday_sales,
       |               AVG(f.Temperature) AS avg_temp, AVG(f.Fuel_Price) AS avg_fuel,
       |               AVG(f.CPI) AS avg_cpi, AVG(f.Unemployment) AS avg_unemployment,
       |               st.Type AS Type, CAST(st.Size AS BIGINT) AS Store_Size
       |        FROM cleaned c
       |        LEFT JOIN features f ON c.Store = CAST(f.Store AS INT)
       |          AND c.d = COALESCE(try_strptime(f.Date, '%m/%d/%Y'),
       |                             try_strptime(f.Date, '%Y-%m-%d'))
       |        LEFT JOIN stores st ON c.Store = CAST(st.Store AS INT)
       |        GROUP BY c.Store, c.Dept, week, st.Type, Store_Size
       |        ORDER BY c.Store, c.Dept, week
       |checks:
       |  min_rows: $minRows
       |  nonnull_cols: [Store, Dept, week, weekly_sales]
       |load:
       |  to: csv
       |  file_path: $out
       |  include_header: true
       |verify:
       |  min_rows: 10
       |  nonnull_cols: [Store, Dept, week, weekly_sales]
       |alerts:
       |  on_fail: $Channel
       |""".stripMargin

  /** The outcome of one op as the checks see it. */
  final case class Outcome(status: String, dqRows: Long, verifyRows: Long,
      alerts: Seq[String])

  /** One op: its wall time, outcome and, when traced, its layer values. */
  final case class Op(seconds: Double, outcome: Outcome,
      layers: Map[String, Double] = Map.empty)

  def run(a: Args): Result = {
    val genStart = Main.uptimeS()
    val triplet = Triplet.generate(a.work.resolve("etl_in"), a.seed)
    val genS = Main.uptimeS() - genStart
    val out = a.work.resolve("etl_out").resolve("weekly.csv")
    val rows = triplet.expected.size.toLong
    val okPlan = planYaml(triplet, out, 10)
    // min_rows one above the output row count: the gate must reject
    val rejectPlan = planYaml(triplet, out, rows + 1)
    val alerter = new RecordingAlerter

    /** Every op's checks; returns the failure, if any. */
    def check(plan: String, o: Outcome): Option[String] =
      if (plan == rejectPlan) {
        if (o.status != "failed") Some(s"status ${o.status}")
        else if (o.dqRows != rows) Some(s"dq rows ${o.dqRows} != $rows")
        else if (o.alerts != Seq(Channel)) Some(s"alerts ${o.alerts}")
        else if (Files.exists(out)) Some(s"$out exists after a rejected run")
        else None
      } else {
        if (o.status != "ok") Some(s"status ${o.status}")
        else if (o.dqRows != rows || o.verifyRows != rows)
          Some(s"dq/verify rows ${o.dqRows}/${o.verifyRows} != $rows")
        else if (o.alerts.nonEmpty) Some(s"alerts ${o.alerts}")
        else try Triplet.checkOutput(out, triplet.expected)
        catch { case e: Exception => Some(e.toString) }
      }

    var attempted = 0
    var failed = 0
    def fail(why: String): Unit = {
      failed += 1
      System.err.println(s"[perfbench] ${a.workload} op failed: $why")
    }
    def checked(plan: String)(op: => Op): Op = {
      attempted += 1
      val o = try op catch {
        case e: Exception => Op(0.0, Outcome(e.toString, -1, -1, Nil))
      }
      check(plan, o.outcome).foreach(fail)
      System.err.println(f"[perfbench] op $attempted%d: ${o.seconds}%.3f s")
      o
    }

    def engineOp(engine: Engine, plan: String): Op = {
      Files.deleteIfExists(out)
      alerter.sent.clear()
      val t0 = System.nanoTime()
      val r: RunResult = engine.run(plan)
      val s = (System.nanoTime() - t0) / 1e9
      Op(s, Outcome(r.status, r.dq.fold(-1L)(_.rows), r.verify.fold(-1L)(_.rows),
        alerter.sent.map(_._1).toSeq))
    }

    // set-up, from JVM start less input generation: the session and Engine,
    // which registers the Dialect functions. The timed ops start cold, as a
    // plan run by a fresh job does.
    val spark = Main.session(a)
    val engine = new Engine(spark, alerter)
    val setupS = Main.uptimeS() - genS

    val env = Map("input_bytes" -> triplet.inputBytes, "sales_rows" -> rows)

    if (!a.trace) {
      val ops = a.loop(a.seconds)(checked(okPlan)(engineOp(engine, okPlan)))
      val metrics = Stats.endToEnd(setupS, ops.map(_.seconds))
      // the gate-rejects path, checked once per run after the timed window
      checked(rejectPlan)(engineOp(engine, rejectPlan))
      Result(attempted, failed, metrics, env + ("ops" -> ops.size))
    } else {
      // two unmeasured ops, after which op times have mostly settled; then
      // untraced and traced ops in the order u t t u, so both halves run
      // equally warm
      (1 to 2).foreach(_ => checked(okPlan)(engineOp(engine, okPlan)))
      val meter = new Meter(spark)
      def plainOp = checked(okPlan)(engineOp(engine, okPlan))
      def tracedOp = checked(okPlan)(replay(spark, okPlan, out, alerter, meter))
      val pairs = a.loop(a.seconds) {
        val (u1, t1) = (plainOp, tracedOp)
        val t2 = tracedOp
        Seq(u1 -> t1, plainOp -> t2)
      }.flatten
      val (untraced, traced) = pairs.unzip
      // the replay must reproduce what Engine.run returns, on both paths
      val rejected = checked(rejectPlan)(engineOp(engine, rejectPlan)).outcome
      val replayedReject =
        checked(rejectPlan)(replay(spark, rejectPlan, out, alerter, meter)).outcome
      (pairs.map { case (u, t) => t.outcome -> u.outcome } :+ (replayedReject -> rejected))
        .filter { case (r, e) => r != e }
        .foreach { case (r, e) => fail(s"replay $r != Engine.run $e") }
      val layers = Layers.mean(traced.map(_.layers))
      val untracedS = untraced.map(_.seconds)
      Result(attempted, failed, Layers.report(layers ++
        Layers.csvProbes(spark, meter) ++ Map(
        "engine.alerts" -> Stats.mean(untraced.map(_.outcome.alerts.size.toDouble)),
        "trace.coverage" -> layers("trace.span_s") / Stats.mean(untracedS),
        "trace.overhead_s" ->
          (Stats.median(traced.map(_.seconds)) - Stats.median(untracedS)),
        "exec.read_amplification" ->
          layers("exec.read_mb") * 1048576.0 / triplet.inputBytes)),
        env ++ Map("ops" -> untraced.size, "traced_ops" -> traced.size))
    }
  }

  /** `Engine.run`'s stage order, replayed through the layers' public
    * functions with a span and a counter around each call. */
  private def replay(spark: SparkSession, yaml: String, out: Path,
      alerter: RecordingAlerter, meter: Meter): Op = {
    Files.deleteIfExists(out)
    alerter.sent.clear()
    val m = scala.collection.mutable.Map[String, Double]()
    def stage[A](span: String, jobs: String = "", readMb: String = "")(f: => A): A = {
      val (v, s, c) = meter.measure(f)
      m(span) = s
      if (jobs.nonEmpty) m(jobs) = c.jobs.toDouble
      if (readMb.nonEmpty) m(readMb) = c.readBytes / 1048576.0
      v
    }
    val (outcome, opS, exec) = meter.measure {
      val plan = stage("plan.parse_s")(PlanParser.parse(yaml))
      stage("sources.extract_s", "sources.jobs", "sources.read_mb")(
        Sources.loadCsvTriplet(spark, plan.source.csv.get.paths,
          plan.limits.maxInputBytes))
      val df = stage("transform.build_s", "transform.jobs")(
        Transform.runSteps(spark, plan.transform.steps))
      val ck = plan.checks
      val dq = stage("quality.dq_s", "quality.dq_jobs", "quality.dq_read_mb")(
        Quality.dqCheck(df, ck.minRows, ck.nonnullCols, ck.freshnessMinutes,
          ck.timestampCol))
      if (!dq.status) {
        plan.alerts.onDqFail.orElse(plan.alerts.onFail).foreach(c =>
          alerter.send(c, s"DQ failed: rows=${dq.rows}"))
        Outcome("failed", dq.rows, -1, alerter.sent.map(_._1).toSeq)
      } else {
        val load = plan.load.get
        stage("sinks.load_s", "sinks.load_jobs", "sinks.load_read_mb")(
          CsvSink.writeSingleFile(df, load.filePath.get, load.includeHeader))
        m("sinks.out_mb") = Files.size(out) / 1048576.0
        val vf = plan.verify
        val ver = stage("quality.verify_s", "quality.verify_jobs",
            "quality.verify_read_mb")(
          Quality.verifyCsv(spark, load.filePath.get,
            minRows = vf.minRows.getOrElse(ck.minRows),
            nonnullCols = vf.nonnullCols.getOrElse(ck.nonnullCols),
            timestampCol = vf.tsCol, maxLagMinutes = vf.maxLagMinutes))
        if (!ver.status) plan.alerts.onFail.foreach(c =>
          alerter.send(c, s"Verify failed: rows=${ver.rows}"))
        Outcome(if (ver.status) "ok" else "failed", dq.rows, ver.rows,
          alerter.sent.map(_._1).toSeq)
      }
    }
    m("trace.span_s") = m.collect { case (k, v) if k.endsWith("_s") => v }.sum
    Op(opS, outcome, m.toMap ++ Layers.exec(exec))
  }
}
