package graft

import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.SparkSession

/** The per-query hang watchdog Bench and Verify share (round-11 hardening:
  * r10's graded artifacts died whole because one query, q163, ran >12 min
  * and the harness killed the entire run). A query that exceeds the cap
  * degrades to one failed entry and the rest of the suite still runs. */
object Watchdog {
  /** Per-query hang cap in seconds: `SPARK_GRAFT_QUERY_TIMEOUT_SEC`, or the
    * `graft.query.timeoutSec` system property so specs can tighten it
    * in-JVM. Default 180 s, far above the suite's slowest sf0.1 entry
    * (2.4 s in bench_full_latest.json) — pure hang insurance, never a
    * measurement path. */
  def capSec(who: String): Long = parseTimeoutSec(
    sys.props.get("graft.query.timeoutSec")
      .orElse(sys.env.get("SPARK_GRAFT_QUERY_TIMEOUT_SEC")),
    default = 180L, who = who)

  /** Validated (round-12): the cap is a
    * `Thread.join(sec * 1000)`, so a configured value of 0 means "wait
    * forever" — silently disabling the exact protection the knob tunes and
    * reinstating the r10 whole-artifact hang — and a non-numeric value
    * would throw NumberFormatException before any query ran. Both degrade
    * to the default, loudly, instead. */
  private def parseTimeoutSec(raw: Option[String], default: Long,
      who: String): Long =
    raw match {
      case None => default
      case Some(s) => s.trim.toLongOption match {
        case Some(v) if v > 0 => v
        case other =>
          System.err.println(s"[$who] SPARK_GRAFT_QUERY_TIMEOUT_SEC=" +
            s"'$s' is ${if (other.isEmpty) "not a number" else "not > 0"}; " +
            s"using default ${default}s (0 would disable the hang watchdog)")
          default
      }
    }

  /** Runs `body` on a daemon thread under its own job group (job groups are
    * thread-local, so the thread that fires the jobs must set it) and waits
    * at most `capSec`. On timeout the group is cancelled with
    * interruptOnCancel so running tasks die quickly, every streaming query
    * the body started is stopped, and the worker is interrupted and given
    * 30 s to unwind. Returns the body's error or the timeout message, or
    * None on success. */
  def run(spark: SparkSession, group: String, capSec: Long)(
      body: => Unit): Option[String] = {
    val err = new AtomicReference[String](null)
    val streamsBefore = spark.streams.active.map(_.id).toSet
    val t = new Thread(() => {
      try {
        spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
        body
      } catch { case e: Throwable =>
        err.set(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally spark.sparkContext.clearJobGroup()
    }, group)
    t.setDaemon(true)
    t.start()
    t.join(capSec * 1000)
    if (t.isAlive) {
      spark.sparkContext.cancelJobGroup(group)
      // Streaming entries (e-family) run microbatches on StreamExecution
      // threads with their OWN job group, so cancelJobGroup alone leaves a
      // hung StreamingQuery squeezing executor slots for the rest of the
      // suite — stop any query this body started, then interrupt the
      // worker (it may be blocked in processAllAvailable/awaitTermination
      // rather than in a Spark task).
      spark.streams.active.filterNot(q => streamsBefore(q.id))
        .foreach(q => scala.util.Try(q.stop()))
      t.interrupt()
      t.join(30000) // grace for task interruption to unwind
      if (t.isAlive)
        System.err.println(s"[watchdog] $group: worker thread still alive " +
          "after cancel+interrupt+30s grace (uninterruptible I/O?)")
      Some(s"timeout: exceeded ${capSec}s, job group cancelled")
    } else Option(err.get)
  }
}
