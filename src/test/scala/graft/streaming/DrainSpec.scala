package graft.streaming

import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import graft.SparkSpec

/** `Drain`: the start/drain/stop path every streaming twin runs. */
class DrainSpec extends SparkSpec {
  import spark.implicits._

  private val Key = "spark.sql.shuffle.partitions"

  /** `body` with the session shuffle width at `n` (not the stream width,
    * so a leak shows), restored afterwards. */
  private def atWidth[T](n: Int)(body: => T): T = {
    val prev = spark.conf.get(Key)
    spark.conf.set(Key, n.toString)
    try body finally spark.conf.set(Key, prev)
  }

  private def longs(xs: Long*): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    mem.addData(xs)
    mem.toDF()
  }

  test("complete and append drains return their rows") {
    val agg = Drain.drain(longs(1L to 10L: _*)
      .groupBy((col("value") % 2).as("k")).agg(count(lit(1)).as("n")),
      "complete")
    assert(agg.orderBy("k").as[(Long, Long)].collect().toSeq ===
      Seq((0L, 5L), (1L, 5L)))
    val proj = Drain.drain(longs(3L, 4L).select((col("value") * 10).as("v")),
      "append")
    assert(proj.as[Long].collect().sorted.toSeq === Seq(30L, 40L))
  }

  test("two drains in one session return independent tables") {
    val a = Drain.drain(longs(1L, 2L), "append")
    val b = Drain.drain(longs(7L), "append")
    assert(a.as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    assert(b.as[Long].collect().toSeq === Seq(7L))
  }

  test("a failing batch propagates, stops the query and restores the width") {
    atWidth(7) {
      val e = intercept[StreamingQueryException] {
        Drain.drain(longs(1L, 2L)
          .select(expr("if(value > 1, raise_error('drain spec boom'), value)")
            .as("v")), "append")
      }
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      assert(messages.exists(_.contains("drain spec boom")))
      assert(spark.streams.active.isEmpty)
      assert(spark.conf.get(Key) === "7")
    }
  }

  test("a clean drain runs at the stream width and restores the session's") {
    atWidth(7) {
      val seen = new AtomicReference[String]
      Drain.run(longs(1L))(_.foreachBatch { (b: DataFrame, _: Long) =>
        seen.set(b.sparkSession.conf.get(Key))
      })
      assert(seen.get === "4")
      assert(spark.conf.get(Key) === "7")
      Drain.drain(longs(1L), "append").collect()
      assert(spark.conf.get(Key) === "7")
      assert(spark.streams.active.isEmpty)
    }
  }
}
