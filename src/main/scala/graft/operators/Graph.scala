package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Minimal graph operators for dedup pipelines: near-dup *pairs* (Dedup.*)
  * become near-dup *clusters* by connected components, and each cluster
  * keeps one representative (the min id) — the step that turns pairwise
  * similarity into an actual drop-list at corpus scale.
  *
  * Every EXACT-INTEGER iterative operator here (connectedComponents, bfs,
  * multiSourceBfs, hits, sssp, onionLayers, labelPropagation, widestPath)
  * switches on [[DriverPath]]: below its edge cap the rounds run in one
  * driver loop over the collected edge array — semantically identical
  * synchronous updates, zero per-round scheduling — and above it the
  * distributed join/aggregate rounds (`private[graft]`, over the prepared
  * edges) run. The float-typed operators (pageRank and friends) keep
  * their distributed DECIMAL-rounding pipeline at every size because
  * their per-iteration rounding is part of the declared semantics.
  */
object Graph {

  /** Both directions of every edge, as distinct (`u`, `v`) longs. */
  private[graft] def undirected(edges: DataFrame, aCol: String,
      bCol: String): DataFrame =
    edges.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .union(edges.select(col(bCol).cast("long").as("u"),
        col(aCol).cast("long").as("v")))
      .distinct()

  /** Distinct directed (`u`, `v`) longs. */
  private[graft] def directed(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v")).distinct()

  /** Weighted edges (`src`, `dst`, `w`) as longs. */
  private[graft] def weighted(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))

  /** Connected components. Small edge sets (the common case once pairs
    * came from a good candidate generator) resolve in one driver-side
    * union-find — the same size-based strategy switch as a broadcast
    * join. Above [[DriverPath.MaxEdges]] the distributed path runs
    * large-star/small-star contraction (Kiveris et al. 2014, "Connected
    * Components in MapReduce and Beyond"): each round is two grouped
    * shuffles, and the round count is O(log² n) in the component size —
    * independent of component *diameter*, so billion-edge chain-shaped
    * graphs converge in a handful of rounds where one-hop label
    * propagation would need O(diameter). Throws if `maxRounds` passes
    * without a fixpoint rather than returning truncated labels.
    *
    * Returns (`n`, `cluster`) for every node appearing in `edges`; the
    * cluster label is the component's minimum id (deterministic across
    * any partitioning). */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val und = undirected(edges, aCol, bCol).cache()
    val result = DriverPath.rows(und.as[(Long, Long)]) match {
      case None => starContraction(und, maxRounds)
      case Some(es) =>
        val lab = unionFind(es)
        es.iterator.map(_._1).toSeq.distinct.map(n => (n, lab(n))).toDF("n", "l")
    }
    und.unpersist()
    result
  }

  /** The component-minimum label of every endpoint of `es`, by driver-side
    * union-find with path compression. */
  private[graft] def unionFind(es: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nx = parent.getOrElse(c, c); parent(c) = r; c = nx
      }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // union by min so the representative is the component minimum
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    es.iterator.flatMap(e => Iterator(e._1, e._2)).map(n => n -> find(n)).toMap
  }

  /** Exact triangle count by node-ordered wedge join (Suri & Vassilvitskii
    * 2011, "Counting Triangles and the Curse of the Last Reducer"). Edges
    * are oriented low→high id, so each triangle {a<b<c} is generated
    * exactly once as the wedge (a,b)+(b,c) closed by (a,c) — no
    * double-counting and no post-hoc division. Cost is two hash joins:
    * Σ deg² wedges then a probe into the edge set. At 100 TB scale the
    * orientation is what tames skew — a hub node's wedges split across
    * its *higher-id* neighbors only; orienting by (degree, id) instead of
    * raw id tightens the bound further and drops in here unchanged. */
  def triangleCount(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = edges
      .filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .distinct()
    val wedges = e.as("e1").join(e.as("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("a"), col("e2.v").as("c"))
    wedges.join(e.as("e3"),
        col("a") === col("e3.u") && col("c") === col("e3.v"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Breadth-first shortest hop counts from `src`, capped at `maxDepth`.
    * Classic distributed frontier BFS: each round joins the frontier with
    * the adjacency list (one shuffle), anti-joins the visited set, and
    * checkpoints to keep the plan flat. Rounds = eccentricity of `src`
    * (≤ maxDepth), each touching only frontier-adjacent edges — the
    * textbook Pregel iteration expressed as DataFrame joins. Returns
    * (`n`, `d`) for every node within `maxDepth` hops (src included, d=0). */
  def bfs(edges: DataFrame, aCol: String, bCol: String, src: Long,
      maxDepth: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val und = undirected(edges, aCol, bCol).localCheckpoint(true)
    DriverPath.rows(und.as[(Long, Long)]) match {
      case None => bfsRounds(und, src, maxDepth)
      case Some(es) =>
        val adj = es.groupBy(_._1)
          .map { case (u, vs) => u -> vs.map(_._2) }
        val vis = scala.collection.mutable.LinkedHashMap(src -> 0)
        var front = Seq(src)
        var depth = 0
        while (depth < maxDepth && front.nonEmpty) {
          depth += 1
          val nxt = front.flatMap(n => adj.getOrElse(n, Array.empty[Long]))
            .distinct.filterNot(vis.contains)
          nxt.foreach(n => vis(n) = depth)
          front = nxt
        }
        vis.toSeq.toDF("n", "d")
    }
  }

  /** [[bfs]]'s distributed frontier rounds over [[undirected]] edges. */
  private[graft] def bfsRounds(und: DataFrame, src: Long,
      maxDepth: Int): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    var visited = Seq((src, 0)).toDF("n", "d").localCheckpoint(true)
    var frontier = visited.select(col("n"))
    var depth = 0
    // count(), not isEmpty: the probe is also the lazy checkpoint's
    // materialization pass (see starContraction scaladoc), so it must
    // touch every partition of the frontier.
    while (depth < maxDepth && frontier.count() > 0) {
      depth += 1
      val next = frontier.join(und, col("n") === col("u"))
        .select(col("v").as("n")).distinct()
        .join(visited, Seq("n"), "left_anti")
        .localCheckpoint(false)
      visited = visited
        .union(next.withColumn("d", lit(depth)).select(col("n"), col("d")))
        .localCheckpoint(false)
      frontier = next
    }
    visited
  }

  /** Multi-source BFS closure: hop distances from EVERY node of the
    * (already symmetric, distinct) edge set `und` — columns `u`, `v` —
    * to every node it reaches, self included (d = 0). Returns
    * (`src`, `n`, `d`). The all-25-sources-at-once frontier iteration
    * q153 runs over the nation trade graph, lifted here so it gets the
    * same size-based strategy switch as [[bfs]]: below
    * [[DriverPath.MaxEdges]] edges the closure runs in one driver loop
    * (zero per-round scheduling), above it the distributed frontier
    * join/anti-join rounds run. Synchronous-update semantics are identical —
    * a node's distance is the first round that reaches it. */
  def multiSourceBfs(und: DataFrame): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    val e = und.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v")).localCheckpoint(true)
    DriverPath.rows(e.as[(Long, Long)]) match {
      case None => multiSourceBfsRounds(e)
      case Some(es) =>
        val adj = es.groupBy(_._1)
          .map { case (u, vs) => u -> vs.map(_._2) }
        val out = Seq.newBuilder[(Long, Long, Long)]
        adj.keys.toSeq.sorted.foreach { src =>
          val vis = scala.collection.mutable.LinkedHashMap(src -> 0L)
          var front = Seq(src)
          var depth = 0L
          while (front.nonEmpty) {
            depth += 1L
            val nxt = front.flatMap(n => adj.getOrElse(n, Array.empty[Long]))
              .distinct.filterNot(vis.contains)
            nxt.foreach(n => vis(n) = depth)
            front = nxt
          }
          vis.foreach { case (n, d) => out += ((src, n, d)) }
        }
        out.result().toDF("src", "n", "d")
    }
  }

  /** [[multiSourceBfs]]'s distributed frontier rounds over long (`u`, `v`)
    * edges. */
  private[graft] def multiSourceBfsRounds(e: DataFrame): DataFrame = {
    var dist = e.select(col("u").as("src"), col("u").as("n")).distinct()
      .withColumn("d", lit(0L)).localCheckpoint(true)
    var frontier = dist
    var depth = 0L
    // count(), not isEmpty: the probe is the lazy checkpoint's
    // materialization pass (see starContraction scaladoc)
    while (frontier.count() > 0) {
      depth += 1L
      val next = frontier.join(e, frontier("n") === e("u"))
        .select(col("src"), col("v").as("n"), lit(depth).as("d"))
        .distinct()
        .join(dist.select(col("src").as("s2"), col("n").as("n2")),
          col("src") === col("s2") && col("n") === col("n2"), "left_anti")
        .localCheckpoint(false)
      dist = dist.unionByName(next).localCheckpoint(false)
      frontier = next
    }
    dist
  }

  /** Fixed-iteration PageRank over an undirected edge set (each edge
    * feeds both directions, so every node has out-degree ≥ 1 — no
    * dangling mass to redistribute). Deterministic and oracle-checkable:
    * each per-edge contribution rounds to DECIMAL(28,12) before the sum
    * (order-independent across partitions) and each iteration's rank
    * rounds to 12 decimals, so an unrolled SQL oracle reproduces the
    * values bit-for-bit. Cost per iteration is one contribution join plus
    * one (node) aggregate shuffle; `localCheckpoint` keeps the plan flat
    * across iterations — the same discipline as [[bfs]] and
    * [[starContraction]]. Returns (`node`, `r`). */
  def pageRank(edges: DataFrame, aCol: String, bCol: String,
      iters: Int = 3, damping: Double = 0.85): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val und = undirected(edges, aCol, bCol).localCheckpoint(true)
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val n = deg.count()
    val base = (1.0 - damping) / n
    var ranks = deg.select(col("u").as("node"),
        round(lit(1.0) / n, 12).as("r"))
      .localCheckpoint(true)
    for (_ <- 0 until iters) {
      val contrib = und
        .join(ranks, col("u") === col("node"))
        .join(deg, "u")
        .select(col("v"),
          round(col("r") / col("deg") * lit(damping), 12)
            .cast(DecimalType(28, 12)).as("c"))
      ranks = contrib.groupBy(col("v").as("node"))
        .agg(sum(col("c")).cast(DoubleType).as("s"))
        .select(col("node"), round(lit(base) + col("s"), 12).as("r"))
        .localCheckpoint(false)
    }
    ranks
  }

  /** Fixed-iteration PageRank over a *directed* edge set, with the part
    * [[pageRank]]'s symmetrization sidesteps: **dangling-mass
    * redistribution**. A node with no out-edges has nowhere to send its
    * rank; the classic fix (Page et al. '99; what every web-graph
    * deployment needs, since real crawls are full of sink pages) collects
    * Σ rank(dangling) each iteration and folds `damping·dangling/n` into
    * every node's base term, keeping total mass at 1.
    *
    * Deterministic and oracle-checkable by the same discipline as
    * [[pageRank]]: per-edge contributions round to DECIMAL(28,12) before
    * the sum, the dangling mass accumulates in DECIMAL, and each
    * iteration's rank rounds to 12 decimals — so an unrolled SQL oracle
    * reproduces every value bit-for-bit, independent of partitioning.
    *
    * Cost per iteration: the contribution join + node aggregate of
    * [[pageRank]], plus one single-row aggregate over the dangling nodes
    * (an anti-join against the out-degree table) that rides in as a
    * broadcast — no driver round-trip. Returns (`node`, `r`) for every
    * node appearing as source or target. */
  def pageRankDirected(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, damping: Double = 0.85): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val e = directed(edges, srcCol, dstCol).localCheckpoint(true)
    val nodes = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .distinct()
      .localCheckpoint(true)
    val outdeg = e.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val n = nodes.count()
    val base = (1.0 - damping) / n
    var ranks = nodes.select(col("node"), round(lit(1.0) / n, 12).as("r"))
      .localCheckpoint(true)
    for (_ <- 0 until iters) {
      val dang = ranks.join(outdeg, col("node") === col("u"), "left_anti")
        .agg(coalesce(sum(col("r").cast(DecimalType(28, 12))),
          lit(0).cast(DecimalType(28, 12))).as("dm"))
        .select(col("dm").cast(DoubleType).as("dang"))
      val contrib = e
        .join(ranks, col("u") === col("node"))
        .join(outdeg, "u")
        .select(col("v"),
          round(col("r") / col("deg") * lit(damping), 12)
            .cast(DecimalType(28, 12)).as("c"))
      val sums = contrib.groupBy(col("v").as("cnode"))
        .agg(sum(col("c")).cast(DoubleType).as("s"))
      ranks = nodes
        .join(sums, col("node") === col("cnode"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          round(lit(base) + lit(damping) * col("dang") / lit(n.toDouble) +
            coalesce(col("s"), lit(0.0)), 12).as("r"))
        .localCheckpoint(false)
    }
    ranks
  }

  /** One large-star round: every node hooks its larger neighbors onto the
    * minimum of its closed neighborhood. Input/output are canonical
    * undirected edges (u > v, no self loops). */
  private def largeStar(e: DataFrame): DataFrame = {
    val bidir = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mdf = bidir.groupBy(col("u").as("c"))
      .agg(min(col("v")).as("mv"))
      .select(col("c"), least(col("mv"), col("c")).as("m"))
    // for each center c: emit (n, m) for neighbors n > c; m <= c < n keeps
    // the output canonical by construction
    bidir.join(mdf, col("u") === col("c"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** One small-star round: every node's smaller neighbors (and itself)
    * hook onto the minimum of that closed neighborhood. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mdf = e.groupBy(col("u")).agg(min(col("v")).as("m"))
    e.join(mdf, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .union(mdf.select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** Alternate large-star/small-star until the edge set is a fixpoint of
    * stars (u, componentMin), then read the labels off the stars.
    *
    * Every round truncates lineage through a `localCheckpoint`: each
    * star step references its input three times, so without lineage
    * truncation the logical plan grows ~9× per round and the optimizer —
    * not the data — becomes the bottleneck. Round 14: the in-loop
    * checkpoints across ALL iterative operators here are LAZY
    * (`localCheckpoint(false)`) — plan truncation is identical (the
    * RDD is planned per round either way), but materialization folds
    * into the round's convergence probe / the next consumer instead of
    * paying a separate driver-scheduled job per round (measured ~0.1 s
    * of pure job overhead each at any scale — guide §1.2 "passes").
    * Checkpoint blocks are executor-local and not fault-tolerant; a
    * long-lived cluster deployment would checkpoint to reliable storage
    * instead (same code, `checkpoint(true)` + a checkpoint dir). */
  private[graft] def starContraction(und: DataFrame,
      maxRounds: Int): DataFrame = {
    var e = und.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct().localCheckpoint(true)
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val next = smallStar(largeStar(e)).localCheckpoint(false)
      // exact fixpoint check on the canonical edge set (two anti-joins
      // over the two checkpoints; a hash-signature compare would be
      // probabilistic, and this operator feeds correctness-gated dedup)
      done = next.join(e, Seq("u", "v"), "left_anti").isEmpty &&
        e.join(next, Seq("u", "v"), "left_anti").isEmpty
      e = next // superseded checkpoint blocks free when the handle is GC'd
      round += 1
    }
    if (!done) {
      throw new IllegalStateException(
        s"connectedComponents star contraction did not converge in " +
          s"$maxRounds rounds — raise maxRounds")
    }
    // at the fixpoint every edge is (member, componentMin); isolated or
    // root nodes label themselves
    und.select(col("u").as("n")).distinct()
      .join(e.select(col("u").as("n"), col("v").as("l")), Seq("n"), "left")
      .select(col("n"), coalesce(col("l"), col("n")).as("l"))
      .localCheckpoint(true)
  }

  /** HITS hubs/authorities (Kleinberg 1999), unnormalized: `iters`
    * alternating passes of a(v) = Σ_{u→v} h(u) then h(v) = Σ_{v→w} a(w)
    * from h₀ ≡ 1. Skipping the usual L2 normalization keeps every score
    * an exact BIGINT (the *ranking* is identical — normalization is a
    * positive scalar per pass — and an oracle can replay the integer
    * sums bit-for-bit; magnitudes grow like (Σdeg²)^iters, so keep
    * `iters` small or renormalize externally at scale). Each pass is
    * one keyed join + one aggregate — the exact shuffle shape of
    * [[pageRankDirected]]; per-pass `localCheckpoint` keeps lineage
    * O(1). Nodes with no out-edges have hub 0; no in-edges, authority 0.
    *
    * Returns (node, hub, authority) for every node in `edges`. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 2): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = directed(edges, srcCol, dstCol).localCheckpoint(true)
    DriverPath.rows(e.as[(Long, Long)]) match {
      case None => hitsRounds(e, iters)
      case Some(earr) =>
        val ns = (earr.map(_._1) ++ earr.map(_._2)).distinct
        var hm: Map[Long, Long] = ns.map(_ -> 1L).toMap
        var am: Map[Long, Long] = Map.empty
        for (_ <- 1 to iters) {
          val a2 = scala.collection.mutable.Map[Long, Long]()
          earr.foreach { case (u, v) =>
            hm.get(u).foreach(hu => a2(v) = a2.getOrElse(v, 0L) + hu)
          }
          am = a2.toMap
          val h2 = scala.collection.mutable.Map[Long, Long]()
          earr.foreach { case (u, v) =>
            am.get(v).foreach(av => h2(u) = h2.getOrElse(u, 0L) + av)
          }
          hm = h2.toMap
        }
        ns.toSeq
          .map(n => (n, hm.getOrElse(n, 0L), am.getOrElse(n, 0L)))
          .toDF("node", "hub", "authority")
    }
  }

  /** [[hits]]'s distributed passes over [[directed]] edges. */
  private[graft] def hitsRounds(e: DataFrame, iters: Int): DataFrame = {
    val nodes = e.select(col("u").as("n"))
      .union(e.select(col("v").as("n")))
      .distinct()
      .localCheckpoint(true)
    var h = nodes.select(col("n"), lit(1L).as("h"))
    var a = nodes.select(col("n"), lit(0L).as("a"))
    for (_ <- 1 to iters) {
      a = e.join(h.withColumnRenamed("n", "u"), "u")
        .groupBy(col("v").as("n")).agg(sum(col("h")).as("a"))
        .localCheckpoint(false)
      h = e.join(a.withColumnRenamed("n", "v"), "v")
        .groupBy(col("u").as("n")).agg(sum(col("a")).as("h"))
        .localCheckpoint(false)
    }
    nodes
      .join(h, Seq("n"), "left").join(a, Seq("n"), "left")
      .select(col("n").as("node"),
        coalesce(col("h"), lit(0L)).as("hub"),
        coalesce(col("a"), lit(0L)).as("authority"))
  }

  /** Single-source shortest paths over positive integer edge weights:
    * distributed Bellman-Ford. Each round relaxes every edge with one
    * (dist ⋈ edges on src) join plus a per-node min-aggregate — the
    * keyed join/agg shuffle shape of [[pageRank]], so cost per round is
    * one shuffle on `dst` however large the edge set — and stops early
    * when a round improves no distance (rounds ≤ hop diameter ≤ |V|−1).
    * `localCheckpoint` keeps each round reading the previous round's
    * blocks, not a growing lineage; the dist side stays ≤ |V| rows and
    * broadcasts under AQE while the edge side is the big relation.
    * Exact integer distances — no floating point, so an unrolled SQL
    * oracle replays every value. Edges (`src`, `dst`, `w` — w ≥ 1
    * longs); returns (node, dist) for nodes reachable from `source`.
    * Throws if the distances haven't stabilized after `maxIters` rounds
    * (negative-weight semantics are out of scope). */
  def sssp(edges: DataFrame, source: Long, maxIters: Int = 50): DataFrame =
    relax(edges, source, maxIters, ShortestPath)

  /** How [[sssp]] and [[widestPath]] relax an edge: a node's value `v`
    * extends along weight `w` to `step(v, w)` and replaces an old value
    * when `better` (the same functions over columns for the distributed
    * rounds, whose per-node aggregate is `pick`). */
  private[graft] final case class Relax(name: String, out: String,
      init: Long, step: (Long, Long) => Long, better: (Long, Long) => Boolean,
      stepCol: (Column, Column) => Column, pick: Column => Column,
      betterCol: (Column, Column) => Column)

  private[graft] val ShortestPath = Relax("sssp", "dist", 0L, _ + _, _ < _,
    _ + _, min(_), _ < _)
  private[graft] val WidestPath = Relax("widestPath", "cap", Long.MaxValue,
    math.min, _ > _, least(_, _), max(_), _ > _)

  /** Synchronous relaxation from `source` to a fixpoint, on the driver
    * below [[DriverPath.MaxEdges]] edges and in [[relaxRounds]] above.
    * Returns (node, `r.out`); throws if `maxIters` rounds still improve. */
  private def relax(edges: DataFrame, source: Long, maxIters: Int,
      r: Relax): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = weighted(edges).localCheckpoint(true)
    DriverPath.rows(e.as[(Long, Long, Long)]) match {
      case None => relaxRounds(e, source, maxIters, r)
      case Some(earr) =>
        var cur = Map(source -> r.init)
        var improved = 1L
        var it = 0
        while (improved > 0 && it < maxIters) {
          val next = scala.collection.mutable.Map[Long, Long](cur.toSeq: _*)
          earr.foreach { case (s0, d0, w) =>
            cur.get(s0).foreach { v =>
              val nv = r.step(v, w)
              if (next.get(d0).forall(r.better(nv, _))) next(d0) = nv
            }
          }
          improved = next.count { case (k, v) => cur.get(k).forall(r.better(v, _)) }
          cur = next.toMap
          it += 1
        }
        if (improved > 0)
          throw new IllegalStateException(
            s"${r.name}: not stable after $maxIters rounds")
        cur.toSeq.toDF("node", r.out)
    }
  }

  /** [[relax]]'s distributed rounds over [[weighted]] edges. */
  private[graft] def relaxRounds(e: DataFrame, source: Long, maxIters: Int,
      r: Relax): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    var cur = Seq((source, r.init)).toDF("node", r.out).localCheckpoint(true)
    var improved = 1L
    var it = 0
    while (improved > 0 && it < maxIters) {
      val relaxed = cur.join(e, cur("node") === e("src"))
        .select(col("dst").as("node"), r.stepCol(col(r.out), col("w")).as(r.out))
        .union(cur)
        .groupBy(col("node")).agg(r.pick(col(r.out)).as(r.out))
        .localCheckpoint(false)
      improved = relaxed.as("n")
        .join(cur.as("o"), col("n.node") === col("o.node"), "left")
        .filter(col("o.node").isNull ||
          r.betterCol(col(s"n.${r.out}"), col(s"o.${r.out}")))
        .count()
      cur = relaxed
      it += 1
    }
    if (improved > 0)
      throw new IllegalStateException(
        s"${r.name}: not stable after $maxIters rounds")
    cur
  }

  /** Personalized PageRank from a single seed (Page et al. '99 §6;
    * Jeh–Widom 2003): the random walk restarts at `seed` instead of a
    * uniform jump, so the stationary mass measures proximity TO THE SEED —
    * the "similar items" / "people also bought" primitive, where global
    * PageRank measures importance. r₀ = 1 at the seed; each iteration
    * r(v) ← (1−d)·[v=seed] + d·Σ_{u∈N(v)} r(u)/deg(u).
    *
    * The rank frontier stays SPARSE: after t iterations only nodes within
    * t hops of the seed carry rank, so each contribution join touches the
    * reached neighborhood, not the graph — the locality that makes PPR
    * the scale-friendly similarity measure. Determinism discipline is
    * [[pageRank]]'s: contributions round to DECIMAL(28,12) pre-sum, ranks
    * round to 12 decimals, and the base term is the IEEE double `1.0 − d`
    * so an unrolled SQL oracle replays every value. Returns (node, r) for
    * reached nodes only. */
  def personalizedPageRank(edges: DataFrame, aCol: String, bCol: String,
      seed: Long, iters: Int = 3, damping: Double = 0.85): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val spark = edges.sparkSession
    import spark.implicits._
    val und = undirected(edges, aCol, bCol).localCheckpoint(true)
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    var ranks = Seq((seed, 1.0)).toDF("node", "r")
    val seedZero = Seq(seed).toDF("v")
      .withColumn("c", lit(0).cast(DecimalType(28, 12)))
    for (_ <- 1 to iters) {
      val contrib = und
        .join(ranks, col("u") === col("node"))
        .join(deg, "u")
        .select(col("v"),
          round(col("r") / col("deg") * lit(damping), 12)
            .cast(DecimalType(28, 12)).as("c"))
      ranks = contrib.union(seedZero)
        .groupBy(col("v").as("node"))
        .agg(sum(col("c")).cast(DoubleType).as("s"))
        .select(col("node"),
          round(col("s") + when(col("node") === seed,
            lit(1.0) - lit(damping)).otherwise(lit(0.0)), 12).as("r"))
        .localCheckpoint(false)
    }
    ranks
  }

  /** Per-node local clustering coefficient (Watts–Strogatz 1998): the
    * fraction of a node's neighbor pairs that are themselves connected —
    * closed wedges / (deg·(deg−1)/2), reported in exact integer basis
    * points. The bot-detection / community-cohesion feature: real social
    * neighborhoods are cliquish (high CC), spam fans are stars (CC ≈ 0).
    *
    * Cost is the Σdeg² wedge join of [[triangleCount]] plus a semi-join
    * probe into the edge set, grouped by the wedge CENTER (triangleCount
    * groups by nothing; here each closed wedge credits its center, so
    * every triangle contributes to all three nodes' coefficients). Only
    * nodes with deg ≥ 2 appear (coefficient undefined below). Returns
    * (node, deg, n_closed, cc_bp). */
  def clusteringCoefficient(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val e = edges
      .filter(col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .distinct()
      .localCheckpoint(true)
    val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy(col("u").as("n")).agg(count(lit(1)).as("deg"))
    val wedges = und.as("x").join(und.as("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.u").as("n"), col("x.v").as("a"), col("y.v").as("b"))
    val closed = wedges.join(e,
        col("a") === col("u") && col("b") === col("v"), "left_semi")
      .groupBy(col("n")).agg(count(lit(1)).as("n_closed"))
    deg.filter(col("deg") >= 2)
      .join(closed, Seq("n"), "left")
      .select(col("n"), col("deg"),
        coalesce(col("n_closed"), lit(0L)).as("n_closed"),
        expr("coalesce(n_closed, 0) * 10000 div (deg * (deg - 1) div 2)")
          .as("cc_bp"))
  }

  /** Onion-layer (k-core peeling) decomposition: repeatedly delete every
    * node whose degree in the *surviving* subgraph is < k; the layer of a
    * node is the round that deletes it (survivors of all `rounds` get
    * layer `rounds`+1 — for a converged run that residue IS the k-core).
    * The layer profile is the "graph degeneracy ordering" summary used to
    * find dense cores and flag spam/bot cliques in interaction graphs
    * (Seidman 1983; Batagelj–Zaveršnik 2003 is the sequential algorithm,
    * this is its synchronous distributed form).
    *
    * Runs EXACTLY `rounds` peels — converged rounds are cheap no-ops
    * (the degree aggregate over an unchanged survivor set) — so the
    * result is deterministic and an unrolled SQL oracle replays it even
    * when the caller under-provisions `rounds`. Each round is two
    * survivor semi-joins + one degree aggregate (the [[bfs]] shuffle
    * shape), `localCheckpoint`-flattened; the edge relation never
    * re-materializes. Returns (`n`, `layer`). */
  def onionLayers(edges: DataFrame, aCol: String, bCol: String,
      k: Int, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val und = undirected(edges, aCol, bCol).localCheckpoint(true)
    DriverPath.rows(und.as[(Long, Long)]) match {
      case None => onionRounds(und, k, rounds)
      case Some(earr) =>
        var surv = earr.map(_._1).toSet
        val out = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
        for (r <- 1 to rounds) {
          val deg = scala.collection.mutable.Map[Long, Long]()
          earr.foreach { case (u, v) =>
            if (surv(u) && surv(v)) deg(u) = deg.getOrElse(u, 0L) + 1
          }
          val next = deg.iterator.collect { case (n, d) if d >= k => n }.toSet
          (surv -- next).foreach(n => out += (n -> r))
          surv = next
        }
        surv.foreach(n => out += (n -> (rounds + 1)))
        out.toSeq.toDF("n", "layer")
    }
  }

  /** [[onionLayers]]' distributed peels over [[undirected]] edges. */
  private[graft] def onionRounds(und: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    var surv = und.select(col("u").as("n")).distinct().localCheckpoint(true)
    var layers = surv.select(col("n"), lit(0).as("layer")).limit(0)
    for (r <- 1 to rounds) {
      val next = und
        .join(surv.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
        .join(surv.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
        .groupBy(col("u").as("n")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("n"))
        .localCheckpoint(false)
      val dropped = surv.join(next, Seq("n"), "left_anti")
        .select(col("n"), lit(r).as("layer"))
      layers = layers.union(dropped).localCheckpoint(false)
      surv = next
    }
    layers.union(surv.select(col("n"), lit(rounds + 1).as("layer")))
  }

  /** Synchronous label propagation (Raghavan et al. 2007), the linear-time
    * community-detection baseline: every node starts labeled with its own
    * id; each iteration every node simultaneously adopts the label most
    * frequent among its neighbors, ties broken by the smaller label.
    * The mode-with-min-tie-break update is fully deterministic (no random
    * visit order — the usual LPA nondeterminism is traded for
    * oracle-replayable synchronous rounds; the known cost is possible
    * label oscillation on bipartite-ish structure, bounded here by the
    * fixed iteration count). Unlike [[connectedComponents]]' min-label
    * collapse, the mode update respects edge DENSITY — one bridge edge
    * between two dense groups does not merge them.
    *
    * Each iteration: one adjacency⋈labels join (shuffle on the join key),
    * one (node,label) count aggregate, one per-node argmax window — all
    * keyed by node, so partitioning is stable across rounds at any scale.
    * Returns (`n`, `l`) after exactly `iters` rounds. */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
      iters: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val und = undirected(edges, aCol, bCol).localCheckpoint(true)
    DriverPath.rows(und.as[(Long, Long)]) match {
      case None => labelPropagationRounds(und, iters)
      case Some(earr) =>
        var lab = earr.iterator.map(_._1).toSeq.distinct
          .map(n => n -> n).toMap
        for (_ <- 1 to iters) {
          val cnt = scala.collection.mutable.Map[(Long, Long), Long]()
          earr.foreach { case (u, v) =>
            val key = (u, lab(v))
            cnt(key) = cnt.getOrElse(key, 0L) + 1
          }
          val best = scala.collection.mutable.Map[Long, (Long, Long)]()
          cnt.foreach { case ((n, l), c) =>
            // argmax count, ties to the smaller label — the window's
            // orderBy(c desc, l) rank 1
            val cur = best.get(n)
            if (cur.forall { case (bc, bl) => c > bc || (c == bc && l < bl) })
              best(n) = (c, l)
          }
          lab = best.iterator.map { case (n, (_, l)) => n -> l }.toMap
        }
        lab.toSeq.toDF("n", "l")
    }
  }

  /** [[labelPropagation]]'s distributed rounds over [[undirected]] edges. */
  private[graft] def labelPropagationRounds(und: DataFrame,
      iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    var lab = und.select(col("u").as("n")).distinct()
      .select(col("n"), col("n").as("l"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val nb = und.join(lab.withColumnRenamed("n", "v"), "v")
        .select(col("u").as("n"), col("l"))
      val cnt = nb.groupBy(col("n"), col("l")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("n"))
        .orderBy(col("c").desc, col("l"))
      lab = cnt.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("n"), col("l"))
        .localCheckpoint(false)
    }
    lab
  }

  /** Widest (maximum-bottleneck) path from `source`: cap(v) = max over
    * paths of the minimum edge weight — the capacity-planning dual of
    * [[sssp]], relaxing with max(min(cap(u), w)) instead of min(cap(u)+w).
    * Same shuffle shape (one relax join + one per-node aggregate per
    * round, early exit on stability); caps only grow and take values from
    * the finite weight set, so convergence is ≤ |V|−1 rounds. The source
    * reports the `Long.MaxValue` sentinel (no incoming constraint) —
    * callers usually exclude it. Returns (node, cap). */
  def widestPath(edges: DataFrame, source: Long,
      maxIters: Int = 50): DataFrame =
    relax(edges, source, maxIters, WidestPath)
}
