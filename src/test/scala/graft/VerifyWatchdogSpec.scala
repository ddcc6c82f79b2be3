package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pins the Verify per-query watchdog contract (round-11 hardening, after
  * r10's empty CORRECTNESS artifact): a query that HANGS degrades to one
  * visible `err` row — the dump completes, oracle_sql.json and errors.json
  * are still written, and the healthy queries' results still land.
  */
class VerifyWatchdogSpec extends SparkSpec {

  private val sleeper: (SparkSession, String) => DataFrame = (s, _) => {
    val slow = udf((x: Long) => { Thread.sleep(600000L); x })
    s.range(8).repartition(4).select(slow(col("id")).as("v"))
  }

  test("a hanging query becomes one err row, not an empty artifact") {
    val out = tmpDir("verify_watchdog").toString
    spark // force the shared session so Verify's getOrCreate reuses it
    sys.props("graft.query.timeoutSec") = "3"
    try {
      // zz_sleeper: would run 10 min/task; q1_agg rides along to prove
      // healthy queries still dump after a timeout fires
      Verify.run(Array(sf, out, "zz_sleeper|q1_agg"),
        extraQueries = Map("zz_sleeper" -> sleeper),
        stopSession = false)
    } finally sys.props.remove("graft.query.timeoutSec")

    val errs = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/errors.json"))
    assert(errs.contains("zz_sleeper") && errs.contains("timeout"),
      s"errors.json should carry the timeout: $errs")
    // the sleeper's slot holds a synthetic one-row {err} parquet
    val errRow = spark.read.parquet(s"$out/zz_sleeper").collect()
    assert(errRow.length === 1)
    assert(errRow.head.getAs[String]("err").contains("timeout"))
    // the healthy query that ran AFTER the sleeper in map order (z < q is
    // false — q1_agg runs first; either order works: both must be present)
    assert(spark.read.parquet(s"$out/q1_agg").count() > 0)
    // oracle_sql.json still written and parseable-shaped
    val osql = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/oracle_sql.json"))
    assert(osql.startsWith("{") && osql.endsWith("}"))
    assert(osql.contains("q1_agg"))
  }

  test("a throwing query still becomes one err row (existing contract)") {
    val out = tmpDir("verify_throw").toString
    spark
    val boom: (SparkSession, String) => DataFrame =
      (s, _) => s.sql("SELECT * FROM table_that_does_not_exist_xyz")
    Verify.run(Array(sf, out, "zz_boom"),
      extraQueries = Map("zz_boom" -> boom), stopSession = false)
    val errRow = spark.read.parquet(s"$out/zz_boom").collect()
    assert(errRow.length === 1)
    assert(errRow.head.getAs[String]("err").nonEmpty)
  }

  test("errors.json carries a hostile error message back exactly") {
    val out = tmpDir("verify_json").toString
    spark
    val msg = "quote \" backslash \\ newline \n tab \t ctrl \u0001 end"
    val hostile: (SparkSession, String) => DataFrame =
      (_, _) => throw new RuntimeException(msg)
    Verify.run(Array(sf, out, "zz_hostile"),
      extraQueries = Map("zz_hostile" -> hostile), stopSession = false)
    val errs = new com.fasterxml.jackson.databind.ObjectMapper().readValue(
      new java.io.File(s"$out/errors.json"),
      classOf[java.util.Map[String, String]])
    assert(errs.size === 1)
    assert(errs.get("zz_hostile") === s"RuntimeException: $msg")
  }
}
