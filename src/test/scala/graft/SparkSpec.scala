package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy). Four cores
  * whatever the host has, so partition-sensitive specs see the same plans
  * everywhere. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.create(cpus = 4, conf = Map(
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString))

  lazy val sf: String = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  /** `body`'s value, with the Spark jobs it started and the input bytes
    * their tasks read. A marker job runs before and after `body`: the
    * listener bus delivers in order, so what arrives between the two
    * markers is exactly `body`'s. */
  def metered[T](body: => T): Metered[T] = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val marker = s"graft_metered_${System.nanoTime}"
    val (started, ended) = (new java.util.concurrent.CountDownLatch(1),
      new java.util.concurrent.CountDownLatch(1))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val bytes = new java.util.concurrent.atomic.AtomicLong
    def isMarker(e: SparkListenerJobStart) = Option(e.properties)
      .exists(_.getProperty("spark.job.description") == marker)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (isMarker(e)) { if (started.getCount > 0) started.countDown() else ended.countDown() }
        else if (started.getCount == 0) jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (started.getCount == 0 && ended.getCount > 0 && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    def markerJob(): Unit = {
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      markerJob()
      assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS))
      val value = body
      markerJob()
      assert(ended.await(60, java.util.concurrent.TimeUnit.SECONDS))
      Metered(value, jobs.get, bytes.get)
    } finally sc.removeSparkListener(listener)
  }
}

final case class Metered[T](value: T, jobs: Int, readBytes: Long)
