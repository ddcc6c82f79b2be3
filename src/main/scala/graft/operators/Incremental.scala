package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Ledger

/** Watermark-driven incremental batch processing — the scheduled-pipeline
  * analog of streaming state. Each run processes only rows with a
  * timestamp strictly above the persisted high-water mark, then advances
  * the mark; re-runs are idempotent (no new rows → no work, mark
  * unchanged). The mark lives in the run [[Ledger]]'s KV table, so a cron
  * re-invocation (reference operator.py:4-16's role) resumes exactly where
  * the last one stopped.
  */
object Incremental {

  final case class Result(newRows: Long, watermark: Option[java.sql.Timestamp])

  /** Filter `df` to rows after the stored watermark for `key`, hand them
    * to `process`, and advance the watermark to the max seen timestamp.
    * The watermark only advances after `process` returns — a failed run
    * reprocesses the same window (at-least-once). */
  def processNew(ledger: Ledger, key: String, df: DataFrame, tsCol: String)(
      process: DataFrame => Unit): Result = {
    val prior = currentWatermark(ledger, key)
    val fresh = prior match {
      case Some(wm) => df.filter(col(tsCol) > lit(wm))
      case None => df
    }
    // one pass for both the count and the new high-water mark
    val stats = fresh.agg(
      count(lit(1)).as("n"), max(col(tsCol)).as("mx")).collect()(0)
    val n = stats.getAs[Long]("n")
    val mx = Option(stats.getAs[java.sql.Timestamp]("mx"))
    if (n > 0) {
      process(fresh)
      mx.foreach(m => ledger.setState(key, graft.Json.spaced(Map("watermark" -> m.toString))))
    }
    Result(n, mx.orElse(prior))
  }

  def currentWatermark(ledger: Ledger, key: String): Option[java.sql.Timestamp] =
    ledger.getState(key).flatMap(json =>
      Option(graft.Json.readTree(json).get("watermark"))
        .map(w => java.sql.Timestamp.valueOf(w.asText)))
}
