package graft.engine

import java.nio.file.Files
import graft.SparkSpec
import graft.operators.Quality
import graft.sinks.CsvSink
import graft.sources.Sources

/** A file load's verify reads the output back with the schema the sink
  * wrote: every CSV-writable type survives the round trip, verify counts
  * what the DQ gate counted, and the read-back runs no inference job. */
class VerifyRoundTripSpec extends SparkSpec {

  private val Sql =
    """SELECT CAST(id AS INT) AS i,
      |       CAST(id AS BIGINT) * 10000000000 AS b,
      |       CAST(id * 1.25 AS DECIMAL(10,2)) AS dec,
      |       id % 2 = 0 AS flag,
      |       date_add(DATE'2024-02-27', id) AS d,
      |       timestamp_seconds(1700000000 + id * 3600) AS ts,
      |       CASE id WHEN 1 THEN double('NaN') WHEN 2 THEN double('Infinity')
      |               WHEN 3 THEN double('-Infinity') ELSE 0.5 END AS x,
      |       concat('say "hi", ', chr(10), 'row ', id) AS s,
      |       IF(id % 2 = 0, NULL, id * 3) AS n
      |FROM input_df""".stripMargin
  private val Rows = 6L
  private val NotNull = "i, b, dec, flag, d, ts, x, s"

  private val loads = Seq(
    "csv" -> "to: csv",
    "csv without header" -> "to: csv, include_header: false",
    "csv partition_by" -> "to: csv, partition_by: [flag]",
    "csv partition_by without header" ->
      "to: csv, include_header: false, partition_by: [flag]",
    "parquet" -> "to: parquet",
    "parquet partition_by" -> "to: parquet, partition_by: [flag]")

  private def plan(in: String, out: String, load: String,
      checkCols: String, verifyCols: String, sql: String = Sql): String =
    s"""source:
       |  kind: csv
       |  csv: {path: $in}
       |transform:
       |  sql: |
       |${sql.linesIterator.map("    " + _).mkString("\n")}
       |checks: {min_rows: $Rows, nonnull_cols: [$checkCols]}
       |load: {$load, file_path: $out}
       |verify: {min_rows: $Rows, nonnull_cols: [$verifyCols], ts_col: ts,
       |         max_lag_minutes: 100000000}
       |alerts: {on_fail: slack://#data-alerts}
       |""".stripMargin

  private def input(): (java.nio.file.Path, String) = {
    val dir = tmpDir("roundtrip")
    val in = dir.resolve("in.csv")
    Files.writeString(in, (Seq("id") ++ (1L to Rows).map(_.toString))
      .mkString("", "\n", "\n"))
    (dir, in.toString)
  }

  private class Alerts extends Alerter {
    val sent = scala.collection.mutable.ArrayBuffer[String]()
    def send(channel: String, message: String): String = { sent += message; "sent" }
  }

  loads.foreach { case (what, load) =>
    test(s"every type round-trips through verify ($what)") {
      val (dir, in) = input()
      val out = dir.resolve("out").toString
      val alerts = new Alerts
      val res = new Engine(spark, alerts).run(
        plan(in, out, load, NotNull, NotNull))
      assert(res.status == "ok", res.toJson)
      assert(res.dq.get.rows == Rows && res.verify.get.rows == Rows, res.toJson)
      assert(res.verify.get.nonnullOk && res.verify.get.freshOk, res.toJson)
      assert(alerts.sent.isEmpty)

      // verify finds the nulls the gate counts: a gate naming `n` rejects
      // the run with its count, and verify naming `n` fails the load
      val gate = new Engine(spark, new Alerts).run(
        plan(in, dir.resolve("rejected").toString, load, "n", NotNull))
      assert(gate.status == "failed" && gate.dq.get.nullCounts("n") == Rows / 2,
        gate.toJson)
      val ver = new Engine(spark, new Alerts).run(
        plan(in, dir.resolve("nulls").toString, load, NotNull, "n"))
      assert(ver.status == "failed" && !ver.verify.get.nonnullOk, ver.toJson)
      assert(ver.verify.get.rows == ver.dq.get.rows, ver.toJson)
    }
  }

  test("csv verify reads the output once, with at most 2 jobs") {
    val (dir, in) = input()
    val out = dir.resolve("out.csv").toString
    val res = new Engine(spark, new Alerts).run(
      plan(in, out, "to: csv", NotNull, NotNull))
    assert(res.status == "ok", res.toJson)
    val written = spark.sql(Sql).schema // input_df is the run's view
    val size = Files.size(java.nio.file.Paths.get(out))
    val cols = written.fieldNames.toSeq.filterNot(_ == "n")

    val known = metered(Quality.verifyCsv(spark, out, minRows = Rows,
      nonnullCols = cols, schema = Some(written)))
    assert(known.value.status && known.value.rows == Rows, known.value)
    assert(known.jobs <= 2, s"${known.jobs} jobs")
    assert(known.readBytes <= size, s"${known.readBytes} bytes of $size")
    // the schema-less tool surface infers: a header and an inference job
    // more, and the file read twice
    val inferred = metered(Quality.verifyCsv(spark, out, minRows = Rows,
      nonnullCols = cols))
    assert(inferred.value.rows == Rows, inferred.value)
    assert(inferred.jobs >= known.jobs + 2, s"${inferred.jobs} vs ${known.jobs}")
    assert(inferred.readBytes > size, s"${inferred.readBytes} bytes of $size")
    info(s"$size-byte file: ${known.jobs} jobs, ${known.readBytes} bytes read " +
      s"with the schema; ${inferred.jobs} jobs, ${inferred.readBytes} inferring")

    // verify's null count is the gate's: the read verify makes, counted
    val back = Sources.loadCsv(spark, out, maxBytes = Long.MaxValue,
      options = Map("multiLine" -> "true"), schema = Some(written))
    assert(Quality.dqCheck(back, nonnullCols = Seq("n")).nullCounts("n") ==
      Quality.dqCheck(spark.sql(Sql), nonnullCols = Seq("n")).nullCounts("n"))
    def values(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(_.toSeq.map(String.valueOf)).sortBy(_.head)
    assert(values(back) == values(spark.sql(Sql)))
  }

  // The extract reads `NA` as null (the fixture's sentinel), but a string
  // `NA` the transform writes is data: verify reads the file back with the
  // sink's own null encoding, and an empty string stays non-null too.
  private val NaSql =
    """SELECT id, id % 2 = 0 AS flag,
      |       timestamp_seconds(1700000000 + id * 3600) AS ts,
      |       CASE id WHEN 1 THEN 'NA' WHEN 2 THEN '' ELSE concat('c', id) END AS code,
      |       IF(id % 2 = 0, NULL, 'NA') AS sparse
      |FROM input_df""".stripMargin

  loads.filter(_._1.startsWith("csv")).foreach { case (what, load) =>
    test(s"a string NA is data when verify reads the output back ($what)") {
      val (dir, in) = input()
      val out = dir.resolve("out").toString
      val alerts = new Alerts
      val res = new Engine(spark, alerts).run(
        plan(in, out, load, "code", "code", NaSql))
      assert(res.status == "ok", res.toJson)
      assert(res.dq.get.nullCounts("code") == 0, res.toJson)
      assert(res.verify.get.rows == res.dq.get.rows && res.dq.get.rows == Rows,
        res.toJson)
      assert(res.verify.get.nonnullOk && alerts.sent.isEmpty, res.toJson)

      // verify finds the nulls the gate counts in a column mixing NA and null
      val gate = new Engine(spark, new Alerts).run(
        plan(in, dir.resolve("rejected").toString, load, "sparse", "code", NaSql))
      assert(gate.status == "failed" &&
        gate.dq.get.nullCounts("sparse") == Rows / 2, gate.toJson)
      val ver = new Engine(spark, new Alerts).run(
        plan(in, dir.resolve("nulls").toString, load, "code", "sparse", NaSql))
      assert(ver.status == "failed" && !ver.verify.get.nonnullOk, ver.toJson)
      assert(ver.verify.get.rows == ver.dq.get.rows, ver.toJson)
    }
  }

  test("the csv read-back counts the nulls the gate counts") {
    val (dir, in) = input()
    val out = dir.resolve("out.csv").toString
    val res = new Engine(spark, new Alerts).run(
      plan(in, out, "to: csv", "code", "code", NaSql))
    assert(res.status == "ok", res.toJson)
    val written = spark.sql(NaSql).schema // input_df is the run's view
    val back = Sources.loadCsv(spark, out, maxBytes = Long.MaxValue,
      options = CsvSink.ReadBack ++ Map("multiLine" -> "true"),
      schema = Some(written))
    val cols = Seq("code", "sparse")
    assert(Quality.dqCheck(back, nonnullCols = cols).nullCounts ==
      Quality.dqCheck(spark.sql(NaSql), nonnullCols = cols).nullCounts)
  }
}
