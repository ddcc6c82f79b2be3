package graft.operators

import org.apache.spark.sql.functions.col
import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Reference components via BFS over an adjacency map. */
  private def bfsComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val seen = scala.collection.mutable.Map.empty[Long, Long]
    adj.keys.toSeq.sorted.foreach { start =>
      if (!seen.contains(start)) {
        var frontier = Set(start)
        while (frontier.nonEmpty) {
          frontier.foreach(seen(_) = start)
          frontier = frontier.flatMap(adj(_)).filterNot(seen.contains)
        }
      }
    }
    seen.toMap
  }

  test("driver union-find matches BFS truth on random graphs") {
    val rnd = new scala.util.Random(7)
    (1 to 10).foreach { _ =>
      val es = Seq.fill(30)((rnd.nextLong(20), rnd.nextLong(20)))
        .filter { case (a, b) => a != b }
      val viaDriver = Graph.connectedComponents(es.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaDriver == bfsComponents(es))
    }
  }

  test("distributed star contraction agrees with the driver path") {
    val es = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 1L))
    val dist = Graph.starContraction(
        Graph.undirected(es.toDF("a", "b"), "a", "b"), maxRounds = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == bfsComponents(es))
    assert(dist == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L))
  }

  test("star contraction matches BFS truth on random graphs") {
    val rnd = new scala.util.Random(23)
    (1 to 5).foreach { _ =>
      val es = Seq.fill(40)((rnd.nextLong(25), rnd.nextLong(25)))
        .filter { case (a, b) => a != b }
      val dist = Graph.starContraction(
          Graph.undirected(es.toDF("a", "b"), "a", "b"), maxRounds = 50)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == bfsComponents(es))
    }
  }

  test("star contraction is diameter-independent: a 300-chain in <50 rounds") {
    // one-hop min-label propagation would need ~300 rounds here; the
    // contraction's O(log² n) bound finishes far inside the default budget
    val es = (1L to 300L).sliding(2).map(s => (s.head, s.last)).toSeq
    val dist = Graph.starContraction(
        Graph.undirected(es.toDF("a", "b"), "a", "b"), maxRounds = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist.size == 300 && dist.values.forall(_ == 1L))
  }

  test("distributed path reports non-convergence instead of wrong labels") {
    // a 200-chain cannot reach the star fixpoint in a single round — must
    // throw, not return silently-truncated labels
    val es = (1L to 200L).sliding(2).map(s => (s.head, s.last)).toSeq
    assertThrows[IllegalStateException] {
      Graph.starContraction(Graph.undirected(es.toDF("a", "b"), "a", "b"),
        maxRounds = 1).collect()
    }
  }

  /** Brute-force triangle truth: enumerate all id-ordered triples. */
  private def naiveTriangles(edges: Seq[(Long, Long)]): Long = {
    val undirected = edges.filter(e => e._1 != e._2)
      .flatMap { case (a, b) => Seq(math.min(a, b) -> math.max(a, b)) }
      .toSet
    val nodes = undirected.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    nodes.combinations(3).count { case Seq(a, b, c) =>
      undirected((a, b)) && undirected((b, c)) && undirected((a, c))
    }
  }

  test("triangle count matches brute-force enumeration on random graphs") {
    val rnd = new scala.util.Random(31)
    (1 to 8).foreach { _ =>
      val es = Seq.fill(60)((rnd.nextLong(15), rnd.nextLong(15)))
        .filter { case (a, b) => a != b }
      val got = Graph.triangleCount(es.toDF("a", "b"), "a", "b")
        .collect()(0).getLong(0)
      assert(got == naiveTriangles(es),
        "wedge-join count must equal exhaustive triple enumeration")
    }
  }

  test("triangle count: each triangle counted once despite shared endpoints") {
    // two triangles sharing the edge (1,3): {1,2,3} and {1,3,4} — a
    // semi-join that deduped (low, high) wedge endpoints would report 1
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (1L, 4L))
    val got = Graph.triangleCount(es.toDF("a", "b"), "a", "b")
      .collect()(0).getLong(0)
    assert(got == 2L)
  }

  test("bfs hop counts match Dijkstra truth and stop at maxDepth") {
    val rnd = new scala.util.Random(13)
    (1 to 5).foreach { _ =>
      val es = Seq.fill(30)((rnd.nextLong(20), rnd.nextLong(20)))
        .filter { case (a, b) => a != b }
      if (es.nonEmpty) {
        val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
        val src = es.map(_._1).min
        // reference BFS
        val dist = scala.collection.mutable.Map(src -> 0)
        var frontier = Set(src)
        var d = 0
        while (frontier.nonEmpty && d < 3) {
          d += 1
          frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
            .filterNot(dist.contains)
          frontier.foreach(dist(_) = d)
        }
        val got = Graph.bfs(es.toDF("a", "b"), "a", "b", src, maxDepth = 3)
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        assert(got == dist.toMap,
          "frontier BFS must return exactly the ≤maxDepth ball with min hops")
      }
    }
  }

  /** Reference PageRank: dense driver-side iteration with the same
    * rounding contract (contributions to 12 decimals, ranks to 12). */
  private def naivePageRank(edges: Seq[(Long, Long)], iters: Int,
      d: Double): Map[Long, Double] = {
    def r12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .distinct.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val n = adj.size
    var rank = adj.keys.map(_ -> r12(1.0 / n)).toMap
    for (_ <- 0 until iters) {
      val contrib = scala.collection.mutable.Map.empty[Long, BigDecimal]
        .withDefaultValue(BigDecimal(0))
      adj.foreach { case (u, vs) =>
        val c = BigDecimal(r12(rank(u) / vs.size * d))
        vs.foreach(v => contrib(v) += c)
      }
      rank = adj.keys.map(v =>
        v -> r12((1.0 - d) / n + contrib(v).toDouble)).toMap
    }
    rank
  }

  test("pagerank matches dense reference iteration and conserves mass") {
    val rnd = new scala.util.Random(17)
    (1 to 3).foreach { _ =>
      val es = Seq.fill(40)((rnd.nextLong(15), rnd.nextLong(15)))
        .filter { case (a, b) => a != b }
      val got = Graph.pageRank(es.toDF("a", "b"), "a", "b",
          iters = 3, damping = 0.85)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = naivePageRank(es, iters = 3, d = 0.85)
      assert(got.keySet == want.keySet)
      got.foreach { case (node, r) =>
        assert(math.abs(r - want(node)) < 1e-9,
          s"node $node: $r != ${want(node)}")
      }
      // total mass stays ~1 (undirected graphs have no dangling loss)
      assert(math.abs(got.values.sum - 1.0) < 1e-6)
      assert(got.values.forall(_ > 0))
    }
  }

  test("bucketized range join equals naive join on random data") {
    val rnd = new scala.util.Random(11)
    (1 to 5).foreach { _ =>
      val points = Seq.tabulate(40)(i =>
        (i.toLong, new java.sql.Timestamp(rnd.nextLong(2000000L))))
        .toDF("pid", "pt")
      // last interval is malformed (end <= start, an epoch-zero end): it
      // must contribute no matches and no bucket explosion
      val intervals = (Seq.tabulate(10) { i =>
        val s0 = rnd.nextLong(1800000L)
        (i.toLong, new java.sql.Timestamp(s0),
          new java.sql.Timestamp(s0 + 1 + rnd.nextLong(400000L)))
      } :+ ((99L, new java.sql.Timestamp(1700000L),
        new java.sql.Timestamp(0L)))).toDF("iid", "s", "e")
      val naive = points.join(intervals,
          col("pt") >= col("s") && col("pt") < col("e"))
        .select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val bucketized = RangeJoin.pointInInterval(
          points, intervals, "pt", "s", "e", bucketWidthSec = 100L)
        .select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(bucketized == naive)
    }
  }

  test("onionLayers peels a chain one layer per cascade round") {
    // 1-2-3-4-5 with k=2: round 1 drops the endpoints, round 2 drops 2,4
    // (their degree fell to 1), round 3 drops the now-isolated 3
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val got = Graph.onionLayers(es, "a", "b", k = 2, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 1, 5L -> 1, 2L -> 2, 4L -> 2, 3L -> 3))
  }

  test("onionLayers leaves a k-core as the survivor layer") {
    // triangle {1,2,3} + pendant 4: the pendant peels in round 1, the
    // triangle is a 2-core and survives every round → layer rounds+1
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val got = Graph.onionLayers(es, "a", "b", k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(4L -> 1, 1L -> 4, 2L -> 4, 3L -> 4))
  }

  test("labelPropagation keeps bridged dense groups apart where CC merges") {
    // two triangles joined by one bridge edge 3-4: the mode update keeps
    // two communities (hand-traced 3 synchronous rounds); CC collapses
    // everything to one label — the density-vs-connectivity contrast
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("a", "b")
    val lpa = Graph.labelPropagation(es, "a", "b", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpa == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
    assert(lpa.values.toSet.size == 2)
    val cc = Graph.connectedComponents(es, "a", "b")
      .collect().map(r => r.getLong(1)).toSet
    assert(cc == Set(1L))
  }

  test("clusteringCoefficient: triangle nodes are cliques, hub is diluted") {
    // triangle {1,2,3} + pendant 4 on node 1: nodes 2,3 have their single
    // neighbor pair closed (cc = 10000 bp); node 1 closes 1 of its 3
    // neighbor pairs (3333 bp); node 4 (deg 1) is excluded
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val got = Graph.clusteringCoefficient(es, "a", "b")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map(
      1L -> (3L, 1L, 3333L), 2L -> (2L, 1L, 10000L),
      3L -> (2L, 1L, 10000L)))
  }

  test("personalizedPageRank stays sparse and concentrates at the seed") {
    // chain 1-2-3-4-5-6-7, seed 1, 2 iterations: rank reaches only nodes
    // within 2 hops; the seed holds the maximum; mass never exceeds 1
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L)).toDF("a", "b")
    val r = Graph.personalizedPageRank(chain, "a", "b", seed = 1L,
        iters = 2)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.keySet == Set(1L, 2L, 3L))
    assert(r(1L) == r.values.max)
    assert(r.values.sum <= 1.0 + 1e-9)
    assert(r.values.forall(_ > 0))
  }

  test("personalizedPageRank is deterministic across partitionings") {
    val rnd = new scala.util.Random(47)
    val es = Seq.fill(50)((rnd.nextLong(20), rnd.nextLong(20)))
      .filter { case (a, b) => a != b }
    val one = Graph.personalizedPageRank(
        es.toDF("a", "b").repartition(1), "a", "b", seed = 0L, iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val many = Graph.personalizedPageRank(
        es.toDF("a", "b").repartition(11), "a", "b", seed = 0L, iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(one == many)
  }

  test("labelPropagation is deterministic across partitionings") {
    val rnd = new scala.util.Random(31)
    val es = Seq.fill(60)((rnd.nextLong(30), rnd.nextLong(30)))
      .filter { case (a, b) => a != b }
    val one = Graph.labelPropagation(es.toDF("a", "b").repartition(1),
        "a", "b", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val many = Graph.labelPropagation(es.toDF("a", "b").repartition(13),
        "a", "b", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == many)
  }
}
