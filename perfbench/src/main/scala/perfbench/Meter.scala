package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What Spark executed between two [[Meter.snapshot]]s. `execS` is the
  * wall time during which at least one job was running. */
final case class Counts(jobs: Long = 0, tasks: Long = 0, execS: Double = 0,
    taskS: Double = 0, gcS: Double = 0, readBytes: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks,
    execS - o.execS, taskS - o.taskS, gcS - o.gcS, readBytes - o.readBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)
  def +(o: Counts): Counts = Counts(jobs + o.jobs, tasks + o.tasks,
    execS + o.execS, taskS + o.taskS, gcS + o.gcS, readBytes + o.readBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
}

/** The traced run's execution counter: a listener the benchmark registers
  * on the session, read as differences of cumulative snapshots. */
final class Meter(spark: SparkSession) extends SparkListener {
  private var total = Counts()
  private var running = 0
  private var busySince = 0L

  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    total = total.copy(jobs = total.jobs + 1)
    if (running == 0) busySince = e.time
    running += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running -= 1
    if (running == 0)
      total = total.copy(execS = total.execS + (e.time - busySince) / 1e3)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    total = if (m == null) total.copy(tasks = total.tasks + 1)
    else total + Counts(tasks = 1, taskS = m.executorRunTime / 1e3,
      gcS = m.jvmGCTime / 1e3, readBytes = m.inputMetrics.bytesRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.diskBytesSpilled)
  }

  def snapshot(): Counts = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized(total)
  }

  /** Runs `f` and returns its value, its wall time and what it executed. */
  def measure[A](f: => A): (A, Double, Counts) = {
    val before = snapshot()
    val t0 = System.nanoTime()
    val a = f
    val s = (System.nanoTime() - t0) / 1e9
    (a, s, snapshot() - before)
  }
}
