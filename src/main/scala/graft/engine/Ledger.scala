package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Clock, SystemClock}

/** Run ledger (SURVEY.md §2A #21-23): append-only parquet record of every
  * pipeline run plus a JSON KV state table — the reference keeps these in
  * SQLite (reference memory.py:12-36, 41-61, 63-71; declared-but-unwired,
  * SURVEY.md §3 note). Parquet-append keeps the ledger mergeable and
  * queryable at any scale; reads resolve latest-state with a window, not
  * in-place updates. */
class Ledger(spark: SparkSession, dir: String, clock: Clock = SystemClock) {
  import spark.implicits._

  private val runsPath = s"$dir/runs"
  private val statePath = s"$dir/state"

  def startRun(prompt: String, planYaml: String): String = {
    val runId = s"run_${clock.nowEpochMillis}"
    Seq((runId, new java.sql.Timestamp(clock.nowEpochMillis),
        null.asInstanceOf[java.sql.Timestamp],
        sha256Hex(prompt), planYaml, "running",
        null.asInstanceOf[java.lang.Long], null.asInstanceOf[String],
        null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("run_id", "started_at", "ended_at", "prompt_hash", "plan_yaml",
        "status", "rows_written", "dq_json", "verify_json", "error")
      .write.mode(SaveMode.Append).parquet(runsPath)
    runId
  }

  /** Records a finished run: its status and error, the verified row count,
    * and its DQ and verify objects as JSON, in the result's own format. */
  def finishRun(runId: String, result: RunResult): Unit =
    Seq((runId, null.asInstanceOf[java.sql.Timestamp],
        new java.sql.Timestamp(clock.nowEpochMillis),
        null.asInstanceOf[String], null.asInstanceOf[String], result.status,
        result.verify.map(v => Long.box(v.rows)).orNull,
        result.dq.map(graft.Json.spaced).orNull,
        result.verify.map(graft.Json.spaced).orNull, result.error.orNull))
      .toDF("run_id", "started_at", "ended_at", "prompt_hash", "plan_yaml",
        "status", "rows_written", "dq_json", "verify_json", "error")
      .write.mode(SaveMode.Append).parquet(runsPath)

  /** One row per run: the append log folded to latest values. The status
    * is the latest finish row's, else the start row's "running" (the scan
    * reads files largest first, so file order says nothing about time). */
  def runs(): DataFrame =
    spark.read.parquet(runsPath)
      .groupBy(col("run_id"))
      .agg(
        min(col("started_at")).as("started_at"),
        max(col("ended_at")).as("ended_at"),
        max(col("prompt_hash")).as("prompt_hash"),
        coalesce(max_by(col("status"), col("ended_at")), max(col("status")))
          .as("status"),
        max(col("rows_written")).as("rows_written"),
        max(col("dq_json")).as("dq_json"),
        max(col("verify_json")).as("verify_json"),
        max(col("error")).as("error"))

  def setState(key: String, valueJson: String): Unit =
    Seq((key, valueJson, new java.sql.Timestamp(clock.nowEpochMillis)))
      .toDF("key", "value_json", "updated_at")
      .write.mode(SaveMode.Append).parquet(statePath)

  /** Last-write-wins KV read. */
  def getState(key: String): Option[String] = {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(statePath)))
      return None
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("key"))
      .orderBy(col("updated_at").desc)
    spark.read.parquet(statePath)
      .filter(col("key") === key)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("value_json"))
      .collect().headOption.map(_.getString(0))
  }

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
