package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Round-14 pin: every exact-integer iterative Graph operator gained a
  * size-switched driver fast-path (the connectedComponents precedent).
  * Both executions must agree row-for-row on a random graph — including
  * all tie-breaks (LPA's mode-with-min, HITS' absent-row-means-zero,
  * onion's exactly-`rounds` peels) — between the public operator (the
  * driver loop, below DriverPath's edge cap) and its distributed rounds
  * called directly on the same prepared input. */
class GraphDriverParitySpec extends SparkSpec {

  private lazy val edges: DataFrame = {
    val rnd = new scala.util.Random(7)
    // connected-ish sparse graph with parallel-edge and self-loop noise
    val es = (1 to 160).map(i => (i.toLong, rnd.nextInt(40).toLong + 1)) ++
      (1 to 40).map(i => (i.toLong, (i + 1).toLong))
    import spark.implicits._
    es.toDF("u", "v")
  }

  private lazy val wedges: DataFrame = {
    val rnd = new scala.util.Random(11)
    val es = (1 to 200).map { i =>
      (rnd.nextInt(30).toLong + 1, rnd.nextInt(30).toLong + 1,
        rnd.nextInt(9).toLong + 1)
    }
    import spark.implicits._
    es.toDF("src", "dst", "w")
  }

  private def rows(df: DataFrame, sortCols: String*): Seq[String] =
    df.orderBy(sortCols.head, sortCols.tail: _*).collect().map(_.toString).toSeq

  test("bfs: driver path == distributed path") {
    val a = Graph.bfs(edges, "u", "v", src = 1L, maxDepth = 4)
    val b = Graph.bfsRounds(Graph.undirected(edges, "u", "v"), src = 1L,
      maxDepth = 4)
    assert(rows(a, "n") == rows(b, "n"))
  }

  test("sssp: driver path == distributed path") {
    val a = Graph.sssp(wedges, source = 1L, maxIters = 50)
    val b = Graph.relaxRounds(Graph.weighted(wedges), source = 1L,
      maxIters = 50, Graph.ShortestPath)
    assert(rows(a, "node") == rows(b, "node"))
  }

  test("widestPath: driver path == distributed path") {
    val a = Graph.widestPath(wedges, source = 1L, maxIters = 50)
    val b = Graph.relaxRounds(Graph.weighted(wedges), source = 1L,
      maxIters = 50, Graph.WidestPath)
    assert(rows(a, "node") == rows(b, "node"))
  }

  test("onionLayers: driver path == distributed path") {
    val a = Graph.onionLayers(edges, "u", "v", k = 3, rounds = 5)
    val b = Graph.onionRounds(Graph.undirected(edges, "u", "v"), k = 3,
      rounds = 5)
    assert(rows(a, "n") == rows(b, "n"))
  }

  test("labelPropagation: driver path == distributed path") {
    val a = Graph.labelPropagation(edges, "u", "v", iters = 3)
    val b = Graph.labelPropagationRounds(Graph.undirected(edges, "u", "v"),
      iters = 3)
    assert(rows(a, "n") == rows(b, "n"))
  }

  test("multiSourceBfs: driver path == distributed path") {
    import org.apache.spark.sql.functions.col
    // symmetric + distinct, as q153 feeds it
    val und = edges.select(col("u"), col("v"))
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      .distinct()
    val a = Graph.multiSourceBfs(und)
    val b = Graph.multiSourceBfsRounds(und)
    assert(rows(a, "src", "n") == rows(b, "src", "n"))
  }

  test("hits: driver path == distributed path") {
    val a = Graph.hits(wedges.select("src", "dst"), "src", "dst", iters = 2)
    val b = Graph.hitsRounds(Graph.directed(wedges, "src", "dst"), iters = 2)
    assert(rows(a, "node") == rows(b, "node"))
  }
}
