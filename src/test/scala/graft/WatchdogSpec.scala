package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** Pins the shared per-query watchdog (Bench and Verify): a hung body is
  * cut at the cap, its jobs are cancelled and the streams it started are
  * stopped, so nothing it left behind squeezes the queries after it. */
class WatchdogSpec extends SparkSpec {
  import spark.implicits._

  private val capSec = 2L
  private val graceSec = 30L

  test("a hanging body times out within cap + grace and its jobs end") {
    spark.range(0, 8, 1, 4).collect() // a cold first job can outlast the cap
    val group = "watchdog-spec-hang"
    val slow = udf((x: Long) => { Thread.sleep(600000L); x })
    val t0 = System.nanoTime()
    val res = Watchdog.run(spark, group, capSec) {
      spark.range(0, 8, 1, 4).select(slow(col("id"))).collect()
    }
    val sec = (System.nanoTime() - t0) / 1e9
    assert(res.exists(_.startsWith("timeout")), res)
    assert(sec < capSec + graceSec, s"returned after $sec s")
    // job events reach the status store through the async listener bus;
    // an uncancelled job would stay active for 10 minutes
    val tracker = spark.sparkContext.statusTracker
    eventually(timeout(10.seconds)) {
      val jobs = tracker.getJobIdsForGroup(group)
      assert(jobs.nonEmpty, "the body should have fired a job in its group")
      assert(tracker.getActiveJobIds.intersect(jobs).isEmpty)
    }
  }

  test("a streaming query started inside a hung body is stopped") {
    @volatile var started: StreamingQuery = null
    val res = Watchdog.run(spark, "watchdog-spec-stream", capSec) {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Long]
      mem.addData(1L, 2L)
      started = mem.toDF().writeStream.format("memory")
        .queryName("watchdog_spec_stream").start()
      started.awaitTermination()
    }
    try {
      assert(res.exists(_.startsWith("timeout")), res)
      assert(started != null)
      assert(!spark.streams.active.exists(_.id == started.id))
    } finally spark.catalog.dropTempView("watchdog_spec_stream")
  }

  test("a throwing body returns its message; a clean body returns None") {
    assert(Watchdog.run(spark, "watchdog-spec-throw", capSec) {
      throw new RuntimeException("boom")
    } === Some("RuntimeException: boom"))
    assert(Watchdog.run(spark, "watchdog-spec-ok", capSec) {
      spark.range(3).count()
    } === None)
  }
}
