package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SkewLedgerSpec extends SparkSpec {
  import spark.implicits._

  test("salted join equals plain join on skewed data") {
    // 90% of left rows share one hot key
    val left = (1 to 1000).map(i =>
      (if (i <= 900) 7L else i.toLong % 20, s"l$i")).toDF("k", "lv")
    val right = (0L to 19L).map(k => (k, s"r$k")).toDF("k", "rv")
    val plain = left.join(right, "k").select("k", "lv", "rv")
      .collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(left, right, "k", salts = 8)
      .select("k", "lv", "rv").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(salted.size == 1000)
  }

  test("salted left join keeps unmatched probe rows") {
    val left = Seq((1L, "a"), (99L, "nomatch")).toDF("k", "lv")
    val right = Seq((1L, "r1")).toDF("k", "rv")
    val r = Skew.saltedJoin(left, right, "k", salts = 4, joinType = "left")
      .collect().map(x => (x.getLong(0), x.getString(1), Option(x.getString(2))))
    assert(r.toSet == Set((1L, "a", Some("r1")), (99L, "nomatch", None)))
  }

  test("ledger records run lifecycle and KV state") {
    val dir = tmpDir("ledger").toString
    var now = 1704067200000L
    val clock = new Clock { def nowEpochMillis: Long = { now += 1000; now } }
    val ledger = new graft.engine.Ledger(spark, dir, clock)
    val id = ledger.startRun("prompt text", "source:\n  kind: csv")
    ledger.finishRun(id, graft.engine.RunResult("ok",
      verify = Some(VerifyResult(42, true, true, None, true))))
    val runs = ledger.runs().collect()
    assert(runs.length == 1)
    val r = runs(0)
    assert(r.getAs[String]("run_id") == id)
    assert(r.getAs[String]("status") == "ok")
    assert(r.getAs[Long]("rows_written") == 42)
    assert(r.getAs[java.sql.Timestamp]("ended_at") != null)

    ledger.setState("watermark", """{"v": 1}""")
    ledger.setState("watermark", """{"v": 2}""")
    assert(ledger.getState("watermark").contains("""{"v": 2}"""))
    assert(ledger.getState("missing").isEmpty)
  }

  test("ledger stores a run's DQ and verify objects as JSON") {
    val dir = tmpDir("ledger_json").toString
    val ledger = new graft.engine.Ledger(spark, dir)
    val id = ledger.startRun("p", "plan")
    val nl = "two\nlines \"q\""
    ledger.finishRun(id, graft.engine.RunResult("failed",
      dq = Some(DqResult(7, true, true, true, nullCounts = Map("a" -> 1L))),
      verify = Some(VerifyResult(6, false, true, Some(1.5), false,
        error = Some(nl)))))
    val r = ledger.runs().collect()(0)
    assert(r.getAs[String]("status") == "failed")
    assert(r.getAs[Long]("rows_written") == 6)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val dq = mapper.readTree(r.getAs[String]("dq_json"))
    assert(dq.isObject && dq.get("rows").asLong == 7 && dq.get("status").asBoolean)
    assert(dq.get("null_counts").get("a").asLong == 1)
    val ver = mapper.readTree(r.getAs[String]("verify_json"))
    assert(ver.get("rows").asLong == 6 && ver.get("error").asText == nl)
  }

  test("incremental processing advances the watermark and is idempotent") {
    val dir = tmpDir("incr").toString
    var now = 1704067200000L
    val clock = new Clock { def nowEpochMillis: Long = { now += 1000; now } }
    val ledger = new graft.engine.Ledger(spark, dir, clock)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val batch1 = Seq(
      (1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 11:00:00")))
      .toDF("id", "updated")

    var processed = Seq.empty[Long]
    def run(df: org.apache.spark.sql.DataFrame) =
      Incremental.processNew(ledger, "events_wm", df, "updated") { fresh =>
        processed = fresh.select("id").collect().map(_.getLong(0)).toSeq.sorted
      }

    val r1 = run(batch1)
    assert(r1.newRows == 2 && processed == Seq(1L, 2L))
    assert(Incremental.currentWatermark(ledger, "events_wm")
      .contains(ts("2024-01-01 11:00:00")))

    processed = Seq.empty
    val r2 = run(batch1) // same data again: nothing new
    assert(r2.newRows == 0 && processed.isEmpty)
    assert(r2.watermark.contains(ts("2024-01-01 11:00:00")))

    val batch2 = batch1.union(Seq(
      (3L, ts("2024-01-01 12:30:00"))).toDF("id", "updated"))
    val r3 = run(batch2) // only the new row flows through
    assert(r3.newRows == 1 && processed == Seq(3L))
    assert(Incremental.currentWatermark(ledger, "events_wm")
      .contains(ts("2024-01-01 12:30:00")))
  }

  test("approx aggregates are close to exact (a1 sanity)") {
    val a = graft.queries.MoreQueries.a1_approx(spark, sf).collect()(0)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val exactParts = li.select(countDistinct(col("l_partkey"))).collect()(0).getLong(0)
    assert(a.getAs[Long]("exact_parts") == exactParts)
    // the boundedness flags are the semantic contract the oracle checks;
    // they must be genuinely computed from the sketches, not literals
    assert(a.getAs[Boolean]("parts_ok") && a.getAs[Boolean]("orders_ok") &&
      a.getAs[Boolean]("median_ok"))
    val approxParts = li.select(approx_count_distinct(col("l_partkey")))
      .collect()(0).getLong(0)
    assert(math.abs(approxParts - exactParts).toDouble / exactParts < 0.15)
  }

  test("webhook alerter posts JSON and survives failure") {
    val received = new java.util.concurrent.atomic.AtomicReference[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/hook", ex => {
      received.set(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
      ex.sendResponseHeaders(200, 2)
      ex.getResponseBody.write("ok".getBytes); ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/hook"
      val a = new graft.engine.WebhookAlerter(url)
      assert(a.send("#data-alerts", "DQ failed: rows=0") == "sent")
      assert(received.get().contains("\"channel\": \"#data-alerts\""))
      assert(received.get().contains("DQ failed"))
      val bad = new graft.engine.WebhookAlerter(
        "http://127.0.0.1:1/nope", timeoutSeconds = 1)
      assert(bad.send("#x", "m").startsWith("error:"))
    } finally server.stop(0)
  }

  test("native functions callable from SQL after registration") {
    graft.functions.Dialect.registerAll(spark)
    val r = spark.sql(
      """SELECT size(token_shingles('a b c d', 3)) AS n_sh,
        |  simhash64(array('x', 'y')) AS sh,
        |  dot_product(array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE)),
        |              array(CAST(3.0 AS DOUBLE), CAST(4.0 AS DOUBLE))) AS dp,
        |  rolling_min_hash('hello world', 4) AS rh
        |""".stripMargin).collect()(0)
    assert(r.getAs[Int]("n_sh") == 2)
    assert(r.getAs[Double]("dp") == 11.0)
    assert(r.getAs[Long]("rh") ==
      graft.functions.RollingMinHash.compute("hello world", 4))
  }
}
