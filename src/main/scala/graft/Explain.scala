package graft

import java.nio.file.{Files, Paths}

/** Plan-inspection tool: dumps `explain("formatted")` for every query to
  * one file so scan pushdown (`PushedFilters`/`ReadSchema`), join
  * strategies, and codegen spans can be audited per round.
  * Usage: runMain graft.Explain <sfDir> <outFile> [queryName…] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("/tmp/plans.txt")
    val only = args.drop(2).toSet
    val spark = Session.create()
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        sb ++= s"\n========== $name ==========\n"
        try {
          val df = fn(spark, sfDir)
          sb ++= df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Exception => sb ++= s"ERROR: ${e.getMessage}\n" }
      }
    Files.writeString(Paths.get(outFile), sb.result())
    println(s"wrote $outFile")
    spark.stop()
  }
}
