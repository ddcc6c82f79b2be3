package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's two JSON lines and its reader of recorded bench files. The
  * headline's keys, their order and the `%.3f` numbers are what the
  * harness that wraps sbt parses. */
class BenchSpec extends AnyFunSuite {
  private val results = Seq(
    "a_other" -> 1.0, "q5_window" -> 0.2384, "q1_agg" -> 12.3456,
    "t4_token_count" -> -1.0)

  private val jvmDiag = scala.collection.immutable.VectorMap(
    "code_heap_used_mb" -> 1L, "code_heap_max_mb" -> 2L, "jit_total_ms" -> 3L,
    "gc_total_ms" -> 4L, "heap_max_mb" -> 5L)

  private def keys(line: String): Seq[String] =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
      .fieldNames().asScala.toSeq

  test("headline line: graded keys in headline order, %.3f, -1.000 sentinel") {
    val line = Bench.headlineLine("m", results, "/x/bench_full_latest.json",
      "/data/sf0.1")
    assert(line ==
      """{"metric":"total","value":13.584,"unit":"sec","mode":"m",""" +
        """"n_queries":4,"errors":["t4_token_count"],""" +
        """"queries":{"q1_agg":12.346,"q5_window":0.238,"t4_token_count":-1.000},""" +
        """"detail_file":"/x/bench_full_latest.json","sf":"/data/sf0.1"}""")
    assert(keys(line) == Seq("metric", "value", "unit", "mode", "n_queries",
      "errors", "queries", "detail_file", "sf"))
  }

  test("detail line: every query in run order, JVM diagnostics, reruns") {
    val line = Bench.detailLine("m", 14.5, jvmDiag,
      Seq("q1_agg"), Seq("q5_window"), results, "/data/sf0.1")
    assert(line ==
      """{"metric":"total_detail","value":13.584,"unit":"sec","mode":"m",""" +
        """"artifact_build_sec":14.500,"jvm_diag":{"code_heap_used_mb":1,""" +
        """"code_heap_max_mb":2,"jit_total_ms":3,"gc_total_ms":4,"heap_max_mb":5},""" +
        """"outlier_reruns":["q1_agg"],"regressions_vs_r11":["q5_window"],""" +
        """"errors":["t4_token_count"],"queries":{"a_other":1.000,""" +
        """"q5_window":0.238,"q1_agg":12.346,"t4_token_count":-1.000},""" +
        """"sf":"/data/sf0.1"}""")
  }

  test("paths in the lines are JSON-escaped") {
    val sf = "/data/\"sf\" \\ 0.1"
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Bench.headlineLine("m", results, "/x/a\"b.json", sf))
    assert(node.get("sf").asText == sf)
    assert(node.get("detail_file").asText == "/x/a\"b.json")
  }

  private def detailFile(sf: String): java.nio.file.Path = {
    val f = Files.createTempFile("bench_full_latest", ".json")
    f.toFile.deleteOnExit()
    Files.writeString(f, Bench.detailLine("m", 1.0, jvmDiag,
      Nil, Nil, results, sf) + "\n")
    f
  }

  test("a recorded detail file reads back its timings at its own scale") {
    val f = detailFile("/data/sf0.1")
    val m = Bench.timingsAt(f, "/data/sf0.1")
    assert(m("q1_agg") == 12.346 && m("q5_window") == 0.238 &&
      m("a_other") == 1.0)
    assert(Bench.timingsAt(f, "/data/sf1").isEmpty)
    assert(Bench.recorded(f).map(_._2.keySet) == Some(results.map(_._1).toSet))
  }

  test("a truncated, malformed or missing prior file reads as no prior") {
    val f = detailFile("/data/sf0.1")
    val whole = Files.readAllBytes(f)
    Files.write(f, whole.take(whole.length / 2))
    assert(Bench.timingsAt(f, "/data/sf0.1").isEmpty)
    Files.writeString(f, "not json {")
    assert(Bench.timingsAt(f, "/data/sf0.1").isEmpty)
    Files.delete(f)
    assert(Bench.timingsAt(f, "/data/sf0.1").isEmpty)
  }

  test("lines print as UTF-8 whatever the default charset") {
    val line = Bench.headlineLine("m", results, "/x/d.json", "/data/é/sf0.1")
    val buf = new java.io.ByteArrayOutputStream
    Bench.utf8Printer(buf).println(line)
    // a strict decoder: malformed input throws instead of turning into U+FFFD
    val text = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .decode(java.nio.ByteBuffer.wrap(buf.toByteArray)).toString
    assert(text == line + System.lineSeparator())
    assert(text.contains("/data/é/sf0.1"))
  }

  private val suite = Set("q1_agg", "q5_window", "t4_token_count")

  test("SPARK_GRAFT_BENCH_ONLY: a file that is not a detail record fails") {
    val f = Files.createTempFile("BENCH_r99", ".json")
    f.toFile.deleteOnExit()
    // a harness record: the headline is nested in a string, not a
    // top-level queries object
    Files.writeString(f, """{"n": 14, "rc": 0, "sf": 0.1, "tail": "{}"}""")
    val e = intercept[IllegalArgumentException](Bench.benchOnly(f.toString, suite))
    assert(e.getMessage.contains(f.toString))
    assert(Bench.benchOnly(detailFile("/data/sf0.1").toString, suite) ==
      results.map(_._1).toSet)
  }

  test("SPARK_GRAFT_BENCH_ONLY: unknown names are kept, an empty pick fails") {
    assert(Bench.benchOnly("q1_agg, gone_query", suite) ==
      Set("q1_agg", "gone_query"))
    val e = intercept[IllegalArgumentException](
      Bench.benchOnly("gone_query,also_gone", suite))
    assert(e.getMessage.contains("gone_query,also_gone"))
  }
}
