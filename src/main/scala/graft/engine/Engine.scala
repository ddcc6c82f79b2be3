package graft.engine

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.collection.immutable.ListMap
import com.fasterxml.jackson.annotation.JsonInclude
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import graft.operators.{Clock, DqResult, Quality, SystemClock, Transform, VerifyResult}
import graft.plan._
import graft.sinks.{CsvSink, JdbcSink, ParquetSink, Staged}
import graft.sources.Sources

/** Alert sink (reference tools.py:267-271 — a Slack-webhook placeholder
  * that prints). Pluggable; default logs to stdout with the reference's
  * message shape. */
trait Alerter { def send(channel: String, message: String): String }
object LogAlerter extends Alerter {
  def send(channel: String, message: String): String = {
    println(s"ALERT to $channel: $message")
    "sent"
  }
}

/** Webhook alerter (the reference stubs a Slack webhook,
  * tools.py:267-271 + plan schema `alerts.webhook_url`,
  * templates.py:8): POSTs `{channel, text}` JSON to the configured URL
  * from the driver. Failures degrade to a returned error string — an
  * alert must never take the pipeline down. */
class WebhookAlerter(webhookUrl: String,
    timeoutSeconds: Long = 10) extends Alerter {
  def send(channel: String, message: String): String =
    try {
      val body = graft.Json.spaced(ListMap("channel" -> channel, "text" -> message))
      val client = java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofSeconds(timeoutSeconds)).build()
      val req = java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(webhookUrl))
        .timeout(java.time.Duration.ofSeconds(timeoutSeconds))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
        .build()
      val resp = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() / 100 == 2) "sent"
      else s"error: HTTP ${resp.statusCode()}"
    } catch { case e: Exception => s"error: ${e.getMessage}" }
}

/** Terminal result contract (reference templates.py:130-170):
  * `{status, dq?, message?, verify?}`. An absent top-level field is omitted
  * from the JSON; an absent field of `dq`/`verify` is written as `null`. */
@JsonInclude(JsonInclude.Include.NON_ABSENT)
final case class RunResult(
    status: String,
    dq: Option[DqResult] = None,
    message: Option[String] = None,
    verify: Option[VerifyResult] = None,
    error: Option[String] = None) {

  def toJson: String = graft.Json.spaced(this)
}

/** The pipeline driver (reference `run_from_plan`, templates.py:51-170):
  * extract → transform → DQ gate → load → verify → result, with the same
  * short-circuit semantics (DQ fail ⇒ alert + failed, nothing at the
  * target; verify fail ⇒ alert + failed).
  *
  * File loads (csv, parquet) run the transform once: the sink writes it to
  * a staging path beside the target while `Dataset.observe` computes the
  * DQ metrics in the same pass. A passing gate publishes the staged output
  * onto the target; a failing one discards it. JDBC loads gate first, on
  * their own metrics pass, then write.
  *
  * All source branches work uniformly (the reference's exec namespace left
  * json/db/api/postgres branches undefined — SURVEY.md §2A reachability
  * note); `checks.disabled` is honored explicitly (SURVEY.md §7.4).
  */
class Engine(
    spark: SparkSession,
    alerter: Alerter = LogAlerter,
    clock: Clock = SystemClock) {

  graft.functions.Dialect.registerAll(spark)

  /** How long a finished write may take to deliver its observed DQ
    * metrics (the listener bus is asynchronous). */
  private val ObservationWait = 2.minutes

  def run(planYaml: String): RunResult =
    try run(PlanParser.parse(planYaml))
    catch {
      case e: Exception =>
        RunResult("failed", error = Some(e.toString))
    }

  /** `alerts.webhook_url` routes through the webhook alerter; otherwise
    * the injected one (default: stdout log, the reference's stub). */
  private def alerterFor(plan: Plan): Alerter =
    plan.alerts.webhookUrl.map(new WebhookAlerter(_)).getOrElse(alerter)

  def run(plan: Plan): RunResult =
    try runStages(plan)
    catch {
      case e: Exception =>
        plan.alerts.onFail.foreach(ch =>
          alerterFor(plan).send(ch, s"Pipeline failed: ${e.getMessage}"))
        RunResult("failed", error = Some(e.toString))
    }

  private def runStages(plan: Plan): RunResult = {
    // 1) Extract (reference templates.py:55-95)
    val extracted = extract(plan)

    // 2) Transform (reference templates.py:97-121)
    val transformed =
      if (plan.transform.steps.nonEmpty) Transform.runSteps(spark, plan.transform.steps)
      else plan.transform.sql match {
        // back-compat single SQL over the registered views (reference
        // templates.py:114-121)
        case Some(sql) => spark.sql(sql)
        case None if extracted.isDefined => extracted.get
        case None => throw new IllegalArgumentException(
          "Provide transform.steps[...].sql (preferred) or transform.sql.")
      }

    // 3) DQ gate (reference templates.py:123-133) and
    // 4) Load (reference templates.py:135-140)
    val load = plan.load.getOrElse(
      throw new IllegalArgumentException("plan requires a 'load' section"))
    val ck = plan.checks
    def gate(metrics: => Row): DqResult =
      if (ck.disabled)
        DqResult(rows = -1, nonnullOk = true, freshOk = true, status = true)
      else Quality.dqGate(metrics, ck.minRows, ck.nonnullCols,
        ck.freshnessMinutes, ck.timestampCol, clock)
    def gateFailed(dq: DqResult): RunResult = {
      val ch = plan.alerts.onDqFail.orElse(plan.alerts.onFail)
      ch.foreach(c => alerterFor(plan).send(c, s"DQ failed: rows=${dq.rows} " +
        s"nonnull_ok=${dq.nonnullOk} fresh_ok=${dq.freshOk}"))
      RunResult("failed", dq = Some(dq))
    }
    val (dq, msg) = load.to match {
      case "csv" | "parquet" =>
        // one pass: the staged write carries the DQ aggregates
        val obs = Observation()
        val staged = stage(load,
          if (ck.disabled) transformed
          else {
            val aggs = Quality.dqAggs(transformed, ck.nonnullCols, ck.timestampCol)
            transformed.observe(obs, aggs.head, aggs.tail: _*)
          })
        val dq = try gate(Await.result(obs.future, ObservationWait))
          catch { case e: Exception => staged.discard(); throw e }
        if (!dq.status) { staged.discard(); return gateFailed(dq) }
        (dq, staged.publish())
      case _ =>
        val dq = gate(Quality.dqMetricsDf(transformed, ck.nonnullCols,
          ck.timestampCol).collect()(0))
        if (!dq.status) return gateFailed(dq)
        (dq, JdbcSink.write(transformed,
          load.connStr.getOrElse(throw new IllegalArgumentException(
            "postgres load requires conn_str")),
          load.table.getOrElse(throw new IllegalArgumentException(
            "postgres load requires table")),
          load.mode, load.keyCols))
    }

    // 5) Verify (reference templates.py:142-166). A file is read back
    // with the schema the sink wrote, so no job runs to infer it.
    val vf = plan.verify
    val minRows = vf.minRows.getOrElse(plan.checks.minRows)
    val nonnullCols = vf.nonnullCols.getOrElse(plan.checks.nonnullCols)
    val ver = load.to match {
      case "csv" =>
        Quality.verifyCsv(spark, load.filePath.get, minRows, nonnullCols,
          vf.tsCol, vf.maxLagMinutes, clock = clock,
          schema = Some(transformed.schema),
          header = load.includeHeader)
      case "parquet" =>
        Quality.verifyParquet(spark, load.filePath.get, transformed.schema,
          minRows, nonnullCols, vf.tsCol, vf.maxLagMinutes, clock)
      case _ =>
        Quality.verifyTable(spark, load.connStr.get, load.table.get,
          tsCol = vf.tsCol, maxLagMinutes = vf.maxLagMinutes, clock = clock)
    }
    if (!ver.status) {
      plan.alerts.onFail.foreach(c => alerterFor(plan).send(c,
        s"Verify failed: rows=${ver.rows} error=${ver.error.getOrElse("")}"))
      return RunResult("failed", dq = Some(dq), verify = Some(ver))
    }

    RunResult("ok", dq = Some(dq), message = Some(msg), verify = Some(ver))
  }

  /** A file load's write, staged beside its target. */
  private def stage(load: Load, df: DataFrame): Staged = {
    val path = load.filePath.getOrElse(throw new IllegalArgumentException(
      s"${load.to} load requires file_path"))
    // partition_by opts out of the reference's exact-single-file contract
    // into the scale path: a partition-parallel directory write (the
    // coalesce(1) single-file sink is single-threaded by design and only
    // fits the reference's ≤1 GiB envelope)
    if (load.to == "parquet") ParquetSink.stage(df, path, load.partitionBy)
    else if (load.partitionBy.nonEmpty)
      CsvSink.stageDirectory(df, path, load.includeHeader, load.partitionBy)
    else CsvSink.stageSingleFile(df, path, load.includeHeader)
  }

  /** Extract stage: registers views per source kind and returns the frame
    * for handle-style transforms (`input_df`). Triplet mode registers
    * `sales`/`features`/`stores` and returns None (the SQL names them). */
  private def extract(plan: Plan): Option[DataFrame] = {
    val src = plan.source
    val maxBytes = plan.limits.maxInputBytes
    PlanParser.inferKind(src) match {
      case "csv" =>
        val c = src.csv.getOrElse(
          throw new IllegalArgumentException("csv source requires csv spec"))
        if (c.paths.nonEmpty) {
          Sources.loadCsvTriplet(spark, c.paths, maxBytes); None
        } else if (c.path.isDefined) {
          val df = Sources.loadCsv(spark, c.path.get, maxBytes)
          df.createOrReplaceTempView("input_df"); Some(df)
        } else if (c.contentB64.isDefined) {
          val df = Sources.loadCsvContent(spark, c.contentB64.get)
          df.createOrReplaceTempView("input_df"); Some(df)
        } else throw new IllegalArgumentException(
          "CSV source requires csv.path, csv.paths{sales,features,stores}, or csv.content_b64")
      case "json" =>
        val j = src.json.getOrElse(
          throw new IllegalArgumentException("json source requires json spec"))
        val df = Sources.loadJson(spark, j.path, j.jsonPath)
        df.createOrReplaceTempView("input_df"); Some(df)
      case "db" =>
        val d = src.db.getOrElse(
          throw new IllegalArgumentException("db source requires db spec"))
        val df = Sources.fetchDb(spark, d.connStr, d.query)
        df.createOrReplaceTempView("input_df"); Some(df)
      case _ =>
        val a = src.api.getOrElse(
          throw new IllegalArgumentException("api source requires api spec"))
        val df = Sources.fetchApi(spark, a.url, a.params, a.jsonPath)
        df.createOrReplaceTempView("input_df"); Some(df)
    }
  }
}
