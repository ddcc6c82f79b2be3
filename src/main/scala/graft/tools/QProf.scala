package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-query job/stage profiler (dev tool): runs each named query twice
  * (cold + warm) and prints, for the warm pass, every Spark job with its
  * wall time plus per-stage task-time / shuffle / row metrics — the
  * local-mode stand-in for the Spark UI's stage page (guide §1.1/§7.1).
  * Usage: runMain graft.tools.QProf <name...>  (env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS) */
object QProf {
  private final case class StageAgg(
      var name: String = "", var tasks: Int = 0, var taskTimeMs: Long = 0,
      var shufReadMb: Double = 0, var shufWriteMb: Double = 0,
      var inRows: Long = 0, var outRows: Long = 0, var gcMs: Long = 0)

  def main(args: Array[String]): Unit = {
    val sfDir = graft.Session.sfDir
    val spark = graft.Session.create()
    graft.Tables.all.foreach(n => graft.Tables.load(spark, sfDir, n).count())

    val jobStart = mutable.Map[Int, Long]()
    val jobEnd = mutable.Map[Int, Long]()
    val jobStages = mutable.Map[Int, Seq[Int]]()
    val jobDesc = mutable.Map[Int, String]()
    val stages = mutable.Map[Int, StageAgg]()
    @volatile var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (collecting) {
        jobStart(e.jobId) = e.time
        jobStages(e.jobId) = e.stageIds
        jobDesc(e.jobId) = Option(
          e.properties.getProperty("spark.job.description")).getOrElse("")
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (collecting)
        jobEnd(e.jobId) = e.time
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (collecting) {
          val a = stages.getOrElseUpdate(e.stageInfo.stageId, StageAgg())
          a.name = e.stageInfo.name
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (collecting) {
        val a = stages.getOrElseUpdate(e.stageId, StageAgg())
        a.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          a.taskTimeMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.shufReadMb += m.shuffleReadMetrics.totalBytesRead / 1e6
          a.shufWriteMb += m.shuffleWriteMetrics.bytesWritten / 1e6
          a.inRows += m.inputMetrics.recordsRead
          a.outRows += m.outputMetrics.recordsWritten
        }
      }
    })

    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.nanoTime(); fn(spark, sfDir).count()
      val cold = (System.nanoTime() - t0) / 1e9
      spark.sharedState.cacheManager.clearCache()
      spark.catalog.listTables().collect()
        .filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
      jobStart.clear(); jobEnd.clear(); jobStages.clear(); jobDesc.clear()
      stages.clear()
      collecting = true
      val t1 = System.nanoTime(); fn(spark, sfDir).count()
      val warm = (System.nanoTime() - t1) / 1e9
      collecting = false
      // listener bus is async; give it a moment to drain
      Thread.sleep(300)
      println(f"\n===== $name cold=$cold%.2f warm=$warm%.2f =====")
      val jobs = jobStart.keys.toSeq.sorted
      var prevEnd = 0L
      jobs.foreach { j =>
        val dur = (jobEnd.getOrElse(j, jobStart(j)) - jobStart(j)) / 1e3
        val gap = if (prevEnd == 0) 0.0 else (jobStart(j) - prevEnd) / 1e3
        prevEnd = jobEnd.getOrElse(j, jobStart(j))
        println(f"  job $j%3d wall=$dur%6.2fs gapBefore=$gap%5.2fs ${jobDesc(j).take(60)}")
        jobStages(j).sorted.foreach { sid =>
          stages.get(sid).filter(_.tasks > 0).foreach { a =>
            println(f"    stage $sid%4d tasks=${a.tasks}%3d taskTime=${a.taskTimeMs / 1e3}%7.2fs gc=${a.gcMs / 1e3}%5.2fs " +
              f"sr=${a.shufReadMb}%7.1fMB sw=${a.shufWriteMb}%7.1fMB inRows=${a.inRows}%9d")
          }
        }
      }
    }
    spark.stop()
  }
}
