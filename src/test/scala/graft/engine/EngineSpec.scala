package graft.engine

import java.nio.file.Files
import graft.SparkSpec

/** End-to-end flagship pipeline (reference prompt.txt shape): CSV triplet →
  * multi-step SQL with try_strptime fallback chain → DQ gate → single-file
  * CSV sink → post-load verify. Fixture data synthesized to FIXTURES.md §A
  * schemas. */
class EngineSpec extends SparkSpec {

  private class RecordingAlerter extends Alerter {
    val sent = scala.collection.mutable.ArrayBuffer[(String, String)]()
    def send(channel: String, message: String): String = {
      sent += ((channel, message)); "sent"
    }
  }

  private def writeTriplet(dir: java.nio.file.Path,
      salesRows: Seq[String]): (String, String, String) = {
    val sales = dir.resolve("sales.csv")
    Files.writeString(sales,
      "Store,Dept,Date,Weekly_Sales,IsHoliday\n" + salesRows.mkString("\n") + "\n")
    val features = dir.resolve("features.csv")
    Files.writeString(features,
      """Store,Date,Temperature,Fuel_Price,MarkDown1,CPI,Unemployment,IsHoliday
        |1,01/10/2011,42.31,2.572,NA,211.09,8.106,FALSE
        |1,01/17/2011,38.51,2.548,NA,211.24,8.106,TRUE
        |2,01/10/2011,59.11,3.297,10382.9,217.99,7.866,FALSE
        |""".stripMargin)
    val stores = dir.resolve("stores.csv")
    Files.writeString(stores,
      "Store,Type,Size\n1,A,151315\n2,B,202307\n")
    (sales.toString, features.toString, stores.toString)
  }

  private def flagshipPlan(sales: String, features: String, stores: String,
      out: String, minRows: Int = 1): String =
    s"""limits:
       |  max_input_bytes: 1073741824
       |source:
       |  kind: csv
       |  csv:
       |    paths: {sales: $sales, features: $features, stores: $stores}
       |transform:
       |  steps:
       |    - name: cleaned
       |      sql: |
       |        WITH s AS (
       |          SELECT CAST(Store AS INT) AS Store, CAST(Dept AS INT) AS Dept,
       |                 COALESCE(try_strptime(Date, '%m/%d/%Y'),
       |                          try_strptime(Date, '%Y-%m-%d')) AS d,
       |                 COALESCE(CAST(Weekly_Sales AS DOUBLE), 0.0) AS Weekly_Sales,
       |                 CAST(IsHoliday AS BOOLEAN) AS IsHoliday
       |          FROM sales)
       |        SELECT * FROM s
       |    - name: weekly
       |      sql: |
       |        SELECT c.Store, c.Dept, CAST(DATE_TRUNC('week', c.d) AS DATE) AS week,
       |               SUM(c.Weekly_Sales) AS weekly_sales,
       |               AVG(c.Weekly_Sales) AS avg_weekly_sales,
       |               SUM(CASE WHEN c.IsHoliday THEN c.Weekly_Sales ELSE 0.0 END) AS holiday_sales,
       |               AVG(f.Temperature) AS avg_temp,
       |               st.Type AS Type, CAST(st.Size AS BIGINT) AS store_size
       |        FROM cleaned c
       |        LEFT JOIN features f ON c.Store = CAST(f.Store AS INT)
       |          AND c.d = COALESCE(try_strptime(f.Date, '%m/%d/%Y'),
       |                             try_strptime(f.Date, '%Y-%m-%d'))
       |        LEFT JOIN stores st ON c.Store = CAST(st.Store AS INT)
       |        GROUP BY c.Store, c.Dept, week, st.Type, store_size
       |        ORDER BY c.Store, c.Dept, week
       |checks:
       |  min_rows: $minRows
       |  nonnull_cols: [Store, Dept, week, weekly_sales]
       |load:
       |  to: csv
       |  file_path: $out
       |  include_header: true
       |verify:
       |  min_rows: $minRows
       |  nonnull_cols: [Store, Dept, week, weekly_sales]
       |alerts:
       |  on_fail: slack://#data-alerts
       |""".stripMargin

  test("flagship: triplet → SQL → DQ → CSV → verify, status ok") {
    val dir = tmpDir("flagship")
    val (s, f, st) = writeTriplet(dir, Seq(
      "1,1,01/10/2011,100.5,FALSE",   // %m/%d/%Y
      "1,1,01/17/2011,250.0,TRUE",    // second week, holiday
      "1,2,2011-01-10,75.25,FALSE",   // %Y-%m-%d fallback format
      "2,1,01/10/2011,300.0,FALSE"))
    val out = dir.resolve("weekly.csv").toString
    val alerter = new RecordingAlerter
    val res = new Engine(spark, alerter).run(flagshipPlan(s, f, st, out, minRows = 3))

    assert(res.status == "ok", res.toJson)
    assert(res.dq.get.rows == 4) // 4 (store,dept,week) groups
    assert(res.verify.get.status)
    assert(alerter.sent.isEmpty)

    val lines = Files.readAllLines(java.nio.file.Paths.get(out))
    assert(lines.get(0) ==
      "Store,Dept,week,weekly_sales,avg_weekly_sales,holiday_sales,avg_temp,Type,store_size")
    // store 1 dept 1 week of 2011-01-10: one normal + holiday row next week
    assert(lines.get(1).startsWith("1,1,2011-01-10,100.5,100.5,0.0,42.31,A,151315"))
    assert(lines.get(2).startsWith("1,1,2011-01-17,250.0,250.0,250.0,38.51,A,151315"))
    // fallback-format date landed in the same week as the %m/%d/%Y rows
    assert(lines.get(3).startsWith("1,2,2011-01-10,75.25"))
  }

  test("DQ gate short-circuits with alert (reference templates.py:130-133)") {
    val dir = tmpDir("dqfail")
    val (s, f, st) = writeTriplet(dir, Seq("1,1,01/10/2011,100.5,FALSE"))
    val out = dir.resolve("o.csv").toString
    val alerter = new RecordingAlerter
    val res = new Engine(spark, alerter).run(
      flagshipPlan(s, f, st, out, minRows = 99))
    assert(res.status == "failed")
    assert(res.verify.isEmpty)          // load/verify never ran
    assert(!Files.exists(java.nio.file.Paths.get(out)))
    assert(alerter.sent.exists(_._2.startsWith("DQ failed")))
  }

  test("unparseable dates null the week column and trip the nonnull gate") {
    val dir = tmpDir("baddate")
    val (s, f, st) = writeTriplet(dir, Seq(
      "1,1,18/11/2011,100.0,FALSE")) // day-first: fails both declared formats
    val out = dir.resolve("o.csv").toString
    val res = new Engine(spark, new RecordingAlerter).run(
      flagshipPlan(s, f, st, out))
    assert(res.status == "failed" && !res.dq.get.nonnullOk)
  }

  test("checks.disabled skips the DQ gate") {
    val dir = tmpDir("nodq")
    val (s, f, st) = writeTriplet(dir, Seq("1,1,01/10/2011,100.5,FALSE"))
    val out = dir.resolve("o.csv").toString
    val plan = flagshipPlan(s, f, st, out).replace(
      "checks:\n  min_rows: 1", "checks:\n  disabled: true\n  min_rows: 999")
    val res = new Engine(spark, new RecordingAlerter).run(plan)
    assert(res.status == "ok")
  }

  test("single-path CSV + transform.sql over input_df (reference tools.py:58-65)") {
    val dir = tmpDir("single")
    val p = dir.resolve("in.csv")
    Files.writeString(p, "sku,price\n1,9.5\n2,3.25\n3,100.0\n")
    val out = dir.resolve("cheap.csv").toString
    val res = new Engine(spark, new RecordingAlerter).run(
      s"""source:
         |  kind: csv
         |  csv: {path: $p}
         |transform:
         |  sql: SELECT CAST(sku AS BIGINT) AS sku, CAST(price AS DOUBLE) AS sale_price
         |       FROM input_df WHERE price < 50 ORDER BY sku
         |checks: {min_rows: 2, nonnull_cols: [sku, sale_price]}
         |load: {to: csv, file_path: $out}
         |""".stripMargin)
    assert(res.status == "ok", res.toJson)
    val lines = Files.readAllLines(java.nio.file.Paths.get(out))
    assert(lines.size == 3 && lines.get(1) == "1,9.5")
  }

  test("parquet directory sink with partitioning + verify (scale path)") {
    val dir = tmpDir("pq")
    val p = dir.resolve("in.csv")
    Files.writeString(p,
      "region,sku,price\neast,1,9.5\nwest,2,3.25\neast,3,70.0\n")
    val out = dir.resolve("out_parquet").toString
    val res = new Engine(spark, new RecordingAlerter).run(
      s"""source:
         |  kind: csv
         |  csv: {path: $p}
         |transform:
         |  sql: SELECT region, CAST(sku AS BIGINT) AS sku,
         |       CAST(price AS DOUBLE) AS price FROM input_df
         |checks: {min_rows: 3, nonnull_cols: [region, sku]}
         |load: {to: parquet, file_path: $out, partition_by: [region]}
         |verify: {min_rows: 3, nonnull_cols: [sku, price]}
         |""".stripMargin)
    assert(res.status == "ok", res.toJson)
    assert(res.verify.get.rows == 3)
    // hive-style partition dirs exist and the data reads back partitioned
    assert(Files.exists(java.nio.file.Paths.get(s"$out/region=east")))
    val back = spark.read.parquet(out)
    assert(back.count() == 3)
    assert(back.filter(back("region") === "east").count() == 2)
  }

  test("csv load with partition_by routes through the directory writer") {
    val dir = tmpDir("csvpart")
    val p = dir.resolve("in.csv")
    Files.writeString(p,
      "region,sku,price\neast,1,9.5\nwest,2,3.25\neast,3,70.0\n")
    val out = dir.resolve("out_csv").toString
    val res = new Engine(spark, new RecordingAlerter).run(
      s"""source:
         |  kind: csv
         |  csv: {path: $p}
         |transform:
         |  sql: SELECT region, CAST(sku AS BIGINT) AS sku FROM input_df
         |checks: {min_rows: 3}
         |load: {to: csv, file_path: $out, partition_by: [region]}
         |""".stripMargin)
    assert(res.status == "ok", res.toJson)
    // the scale boundary: partition_by means hive-partitioned directory
    // output (parallel, prunable), never the coalesce(1) single file
    val outPath = java.nio.file.Paths.get(out)
    assert(Files.isDirectory(outPath), "partitioned load writes a directory")
    assert(Files.exists(outPath.resolve("region=east")) &&
      Files.exists(outPath.resolve("region=west")))
    assert(spark.read.option("header", "true").csv(out).count() == 3)
  }

  test("parse errors surface as failed result, not exceptions") {
    val res = new Engine(spark, new RecordingAlerter).run("not: [valid")
    assert(res.status == "failed" && res.error.isDefined)
  }

  test("JSON source end-to-end with selector") {
    val dir = tmpDir("jsonsrc")
    val p = dir.resolve("in.json")
    Files.writeString(p,
      """{"records": [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]}""")
    val out = dir.resolve("o.csv").toString
    val res = new Engine(spark, new RecordingAlerter).run(
      s"""source:
         |  kind: json
         |  json: {path: $p, json_path: $$.records}
         |transform:
         |  sql: SELECT id, v FROM input_df ORDER BY id
         |checks: {min_rows: 2}
         |load: {to: csv, file_path: $out}
         |""".stripMargin)
    assert(res.status == "ok", res.toJson)
  }

  test("result JSON contract shape") {
    val r = RunResult("ok",
      dq = Some(graft.operators.DqResult(5, true, true, true)),
      message = Some("wrote /tmp/x.csv"),
      verify = Some(graft.operators.VerifyResult(5, true, true, Some(1.5), true)))
    val j = r.toJson
    assert(j.contains("\"status\": \"ok\"") && j.contains("\"rows\": 5") &&
      j.contains("\"lag_minutes\": 1.5"))

    // parsed back: absent top-level fields omitted, nested None as null,
    // hostile strings exact
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def keys(n: com.fasterxml.jackson.databind.JsonNode): Set[String] =
      n.fieldNames().asScala.toSet
    val hostile = "a \"q\" \\ b\n\tc \u0001 d"
    val ok = mapper.readTree(RunResult("ok",
      dq = Some(graft.operators.DqResult(5, true, true, true,
        nullCounts = Map("sku" -> 0L, "price" -> 2L))),
      message = Some(hostile),
      verify = Some(graft.operators.VerifyResult(5, true, true, None, true)))
      .toJson)
    assert(keys(ok) == Set("status", "dq", "message", "verify"))
    assert(ok.get("message").asText == hostile)
    val dq = ok.get("dq")
    assert(keys(dq) == Set("rows", "nonnull_ok", "fresh_ok", "status",
      "null_counts", "lag_minutes"))
    assert(dq.get("lag_minutes").isNull && dq.get("null_counts").isObject)
    assert(dq.get("null_counts").get("price").asLong == 2L)
    val ver = ok.get("verify")
    assert(keys(ver) == Set("rows", "nonnull_ok", "fresh_ok", "lag_minutes",
      "status", "error"))
    assert(ver.get("lag_minutes").isNull && ver.get("error").isNull)

    val failed = mapper.readTree(RunResult("failed",
      verify = Some(graft.operators.VerifyResult(0, false, false, Some(2.5),
        false, error = Some(hostile))),
      error = Some(hostile)).toJson)
    assert(keys(failed) == Set("status", "verify", "error"))
    assert(failed.get("error").asText == hostile)
    assert(failed.get("verify").get("error").asText == hostile)
    assert(failed.get("verify").get("lag_minutes").asDouble == 2.5)
  }

  test("result JSON is one line in declaration order") {
    val r = RunResult("failed",
      dq = Some(graft.operators.DqResult(0, false, true, false,
        nullCounts = Map("sku" -> 0L))),
      error = Some("boom"))
    assert(r.toJson == """{"status": "failed", "dq": {"rows": 0, """ +
      """"nonnull_ok": false, "fresh_ok": true, "status": false, """ +
      """"null_counts": {"sku": 0}, "lag_minutes": null}, "error": "boom"}""")
  }

  test("csv verify reads back values with newlines, quotes and commas") {
    val dir = tmpDir("multiline")
    val in = dir.resolve("in.csv")
    Files.writeString(in, "id,name\n1,alpha\n2,beta\n")
    val out = dir.resolve("o.csv").toString
    val alerter = new RecordingAlerter
    val res = new Engine(spark, alerter).run(
      s"""source:
         |  kind: csv
         |  csv: {path: $in}
         |transform:
         |  sql: |
         |    SELECT CAST(id AS BIGINT) AS id,
         |           concat(name, chr(10), 'tail') AS multi,
         |           concat(name, ' "q", x') AS quoted
         |    FROM input_df
         |checks: {min_rows: 2, nonnull_cols: [id, multi, quoted]}
         |load: {to: csv, file_path: $out}
         |verify: {min_rows: 2, nonnull_cols: [id, multi, quoted]}
         |alerts: {on_fail: slack://#data-alerts}
         |""".stripMargin)
    assert(res.status == "ok", res.toJson)
    assert(res.dq.get.rows == 2 && res.verify.get.rows == 2, res.toJson)
    assert(res.verify.get.nonnullOk && alerter.sent.isEmpty)
  }

  /** Every file under `p` (or `p` itself), relative path → bytes. */
  private def snapshot(p: java.nio.file.Path): Map[String, Seq[Byte]] = {
    val files = Files.walk(p)
    try files.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(Files.isRegularFile(_))
      .map(f => p.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
    finally files.close()
  }

  private def stagingLeftovers(dir: java.nio.file.Path): Seq[String] = {
    val names = Files.list(dir)
    try names.toArray.toSeq.map(_.toString).filter(_.contains("_stage_"))
    finally names.close()
  }

  /** A single-csv-source plan over `region,sku,price` rows. */
  private def regionPlan(in: java.nio.file.Path, out: String, load: String,
      minRows: Int = 1, sql: String = "SELECT region, CAST(sku AS BIGINT) AS sku, " +
        "CAST(price AS DOUBLE) AS price FROM input_df",
      checks: String = ""): String =
    s"""source:
       |  kind: csv
       |  csv: {path: $in}
       |transform:
       |  sql: $sql
       |checks: {min_rows: $minRows$checks}
       |load: {$load, file_path: $out}
       |alerts: {on_fail: slack://#data-alerts}
       |""".stripMargin

  private def regionInput(dir: java.nio.file.Path): java.nio.file.Path = {
    val p = dir.resolve("in.csv")
    Files.writeString(p,
      "region,sku,price\neast,1,9.5\nwest,2,3.25\neast,3,70.0\n")
    p
  }

  private val fileLoads = Seq(
    "csv single file" -> "to: csv",
    "csv partition_by" -> "to: csv, partition_by: [region]",
    "parquet" -> "to: parquet")

  test("a passing csv run executes the transform's plan once") {
    import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
    import org.apache.spark.sql.execution.QueryExecution
    val dir = tmpDir("once")
    val (s, f, st) = writeTriplet(dir, Seq(
      "1,1,01/10/2011,100.5,FALSE", "2,1,01/10/2011,300.0,FALSE"))
    val out = dir.resolve("weekly.csv").toString
    val marker = "graft_listener_marker"
    val runs = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.exists {
          case a: SubqueryAlias => a.alias == "cleaned"; case _ => false
        }) runs.incrementAndGet()
        else if (qe.analyzed.treeString.contains(marker)) markerSeen.countDown()
      def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val engine = new Engine(spark, new RecordingAlerter)
    spark.listenerManager.register(listener)
    try {
      val res = engine.run(flagshipPlan(s, f, st, out))
      assert(res.status == "ok", res.toJson)
      // the listener bus delivers in order: once the marker query is seen,
      // every execution of the run has been counted
      spark.sql(s"SELECT '$marker'").collect()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(runs.get == 1)
    } finally spark.listenerManager.unregister(listener)
  }

  fileLoads.foreach { case (what, load) =>
    test(s"a rejected run keeps the previous target and no staging ($what)") {
      val dir = tmpDir("reject")
      val in = regionInput(dir)
      val out = dir.resolve("out")
      val engine = new Engine(spark, new RecordingAlerter)
      assert(engine.run(regionPlan(in, out.toString, load)).status == "ok")
      val before = snapshot(out)
      assert(before.nonEmpty)
      val alerter = new RecordingAlerter
      val res = new Engine(spark, alerter).run(
        regionPlan(in, out.toString, load, minRows = 99))
      assert(res.status == "failed" && res.dq.get.rows == 3, res.toJson)
      assert(alerter.sent.size == 1 && alerter.sent.head._2.startsWith("DQ failed"))
      assert(snapshot(out) == before)
      assert(stagingLeftovers(dir).isEmpty)
    }
  }

  Seq("single file" -> "to: csv, include_header: false",
      "partition_by" -> "to: csv, include_header: false, partition_by: [region]")
    .foreach { case (what, load) =>
      test(s"a headerless csv load passes verify ($what)") {
        val dir = tmpDir("noheader")
        val in = regionInput(dir)
        val out = dir.resolve("out").toString
        val alerter = new RecordingAlerter
        val res = new Engine(spark, alerter).run(regionPlan(in, out, load,
          minRows = 3, checks = ", nonnull_cols: [region, sku, price]"))
        assert(res.status == "ok", res.toJson)
        assert(res.verify.get.rows == res.dq.get.rows && res.dq.get.rows == 3,
          res.toJson)
        assert(res.verify.get.nonnullOk && alerter.sent.isEmpty)
      }
    }

  test("a transform with zero rows fails the gate with rows=0") {
    val dir = tmpDir("empty")
    val in = regionInput(dir)
    val out = dir.resolve("o.csv")
    val alerter = new RecordingAlerter
    val res = new Engine(spark, alerter).run(regionPlan(in, out.toString,
      "to: csv", sql = "SELECT region, sku FROM input_df WHERE price < 0"))
    assert(res.status == "failed" && res.dq.get.rows == 0, res.toJson)
    assert(alerter.sent.size == 1)
    assert(!Files.exists(out) && stagingLeftovers(dir).isEmpty)
  }

  fileLoads.filter(_._1 != "csv single file").foreach { case (what, load) =>
    test(s"a failed write keeps the previous target ($what)") {
      val dir = tmpDir("failwrite")
      val in = regionInput(dir)
      val out = dir.resolve("out")
      val engine = new Engine(spark, new RecordingAlerter)
      assert(engine.run(regionPlan(in, out.toString, load)).status == "ok")
      val before = snapshot(out)
      val alerter = new RecordingAlerter
      val res = new Engine(spark, alerter).run(regionPlan(in, out.toString, load,
        sql = "SELECT region, CAST(IF(sku = '3', raise_error('injected'), sku) " +
          "AS BIGINT) AS sku FROM input_df",
        checks = ", disabled: true"))
      assert(res.status == "failed", res.toJson)
      assert(alerter.sent.size == 1)
      assert(snapshot(out) == before)
      assert(stagingLeftovers(dir).isEmpty)
    }
  }

  test("webhook body stays valid JSON for control characters") {
    import com.sun.net.httpserver.HttpServer
    val received = new java.util.concurrent.atomic.AtomicReference[String]
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/hook", ex => {
      received.set(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.start()
    try {
      val msg = "Pipeline failed: [TABLE_OR_VIEW_NOT_FOUND]\n\tline 1 \"q\" \\ \u0001"
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/hook"
      assert(new WebhookAlerter(url).send("#data-alerts", msg) == "sent")
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(received.get)
      assert(body.get("channel").asText == "#data-alerts")
      assert(body.get("text").asText == msg)
    } finally server.stop(0)
  }
}
