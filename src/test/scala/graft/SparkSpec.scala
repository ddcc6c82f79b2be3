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
}
