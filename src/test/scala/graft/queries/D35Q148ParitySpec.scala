package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Round-15 pin (VERDICT r14 ask #4): d35's union-find sweep and q148's
  * WL driver loop replicate non-trivial semantics (min-label CC; ASCII
  * signature sort = UTF8 binary sort; dense-rank = sorted-distinct
  * index) whose distributed twins never execute at any oracle'd scale.
  * Same discipline as GraphDriverParitySpec: run each core (the driver
  * path, below DriverPath's edge cap) and its distributed function on
  * the same input and assert row-for-row equality — including
  * tie-breaks and nodes with no out- or in-edges. */
class D35Q148ParitySpec extends SparkSpec {

  private def rows(df: DataFrame, sortCols: String*): Seq[String] =
    df.orderBy(sortCols.head, sortCols.tail: _*).collect()
      .map(_.toString).toSeq

  test("d35 sweep: driver union-find == distributed per-threshold CC") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // clustered pairs whose j_pct straddles every sweep threshold, plus
    // chains (multi-hop merges) and isolated high-j pairs. The
    // distributed sweep's per-threshold components take
    // Graph.connectedComponents' own switch; GraphSpec checks both of
    // its branches against BFS truth.
    val ps = (1 to 150).map { i =>
      val a = rnd.nextInt(40).toLong + 1
      val b = a + rnd.nextInt(20).toLong + 1
      (a, b, 40L + rnd.nextInt(60))
    } ++ (1 to 20).map(i => (i.toLong, i.toLong + 1, 75L)) ++
      Seq((500L, 501L, 50L), (600L, 601L, 69L), (700L, 701L, 70L))
    val pairs = ps.toDF("id_a", "id_b", "j_pct")
    val driver = Round67Queries.sweepFromPairs(spark, pairs)
    val dist = Round67Queries.sweepRounds(pairs).toDF()
    assert(rows(driver, "threshold_pct") == rows(dist, "_1"))
  }

  test("q148 WL colors: driver loop == distributed refinement rounds") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // weight-binned digraph in q148's (a, b, wbin) shape: parallel
    // structure, sinks (no out-edges), sources (no in-edges), self-loops
    val es = (1 to 120).map { _ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong,
        rnd.nextInt(3).toLong)
    } ++ Seq((30L, 31L, 0L), (32L, 30L, 2L), (33L, 33L, 1L))
    val e = es.toDF("a", "b", "wbin").distinct()
    val driver = Round106Queries.wlColors(spark, e)
    val dist = Round106Queries.wlRounds(e)
    assert(rows(driver, "nk") == rows(dist, "nk"))
  }
}
