package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.NativeExprs

/** IVF (inverted-file) approximate-nearest-neighbor search: a spherical
  * k-means coarse quantizer assigns every vector to its nearest centroid
  * cell; queries probe only the `nprobe` nearest cells and rank that
  * candidate subset exactly. The complement of the LSH path in
  * [[Similarity]] — IVF adapts to the data distribution where LSH is
  * data-oblivious.
  *
  * Deterministic by construction (so the result is oracle-checkable):
  *  - init = k vectors evenly spaced through the id order;
  *  - per-dimension centroid means accumulate in DECIMAL (order-independent
  *    across partitions — a double sum would drift with partitioning and
  *    could flip assignments between runs);
  *  - assignment ties keep the lowest centroid index.
  *
  * Scale: each Lloyd iteration is one aggregate job over the corpus; the
  * centroid matrix (k×dim doubles) is the only driver-side state and rides
  * into executors as a codegen reference object. The cell index is a plain
  * int column — at 100 TB you'd persist it (partitioned/bucketed by cell)
  * so queries touch only probed cells' files.
  */
object Ivf {

  private def l2normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** Deterministic spherical k-means over an embedding column. Returns
    * unit-norm centroids, `k × dim`.
    *
    * The (id, vec) projection is localCheckpoint'ed up front: Lloyd runs
    * `iters` full-corpus aggregates plus the init scan, and without the
    * checkpoint every one of them re-reads and re-decodes the source scan.
    * One materialization feeds them all (at cluster scale, persist the
    * projection to storage instead and train once — see the object doc). */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): Array[Array[Double]] = {
    val (proj, n) = checkpointSpread(corpus.select(col(idCol), col(vecCol)))
    trainOnProjection(proj, n, idCol, vecCol, k, iters)
  }

  /** Row-aware spread + checkpoint (round 15, guide §2.5): a one-row-group
    * test scan checkpoints as ONE partition, serializing every Lloyd
    * iteration's assignment + DECIMAL mean aggregate on one core (profiled
    * 0.47 s/iteration of s3's 2.1 s). But blanket-spreading to
    * defaultParallelism overshoots small inputs — each extra task carries
    * a fixed setup cost that outweighs its ~60 rows of work (measured:
    * 2 000 rows aggregate 1.14 s @1 part, 0.35 s @4, 0.53 s+high variance
    * @32). Width = min(defaultParallelism, ⌈n/512⌉): a rows-per-task floor,
    * not a core-count tune — production-scale inputs already arrive wider
    * than defaultParallelism and take the identity branch. Returns the
    * checkpointed projection plus its row count (needed for seeding anyway,
    * so training never re-counts). Decimal means are order-independent, so
    * the centroids are bit-identical under any partitioning. */
  private[operators] def checkpointSpread(raw: DataFrame): (DataFrame, Long) = {
    val proj0 = raw.localCheckpoint()
    val n = proj0.count()
    val width = math.min(
      proj0.sparkSession.sparkContext.defaultParallelism.toLong,
      math.max(1L, (n + 511L) / 512L)).toInt
    if (proj0.rdd.getNumPartitions < width)
      (proj0.repartition(width).localCheckpoint(false), n)
    else (proj0, n)
  }

  /** Training core over an already-materialized (id, vec) projection —
    * lets [[topK]] share one checkpoint between training and the final
    * cell assignment instead of scanning the source twice (and lets
    * [[IvfIndex.build]] reuse the exact same deterministic training).
    *
    * Up to [[DriverPath.MaxVectors]] rows, Lloyd training runs in one
    * driver loop over the collected rows ([[driverTrain]]) — the same
    * size-based strategy switch as the Graph operators' driver loops and
    * a broadcast join — instead of ~13 driver-scheduled jobs (init
    * sort/sample/take + 2 AQE stages per iteration) whose per-job
    * planning gaps dominated s3's bench time (profiled: 3.0 s of 5.4 s
    * warm was inter-job gap). `n` is already counted, so the switch
    * compares it with the cap instead of calling [[DriverPath.rows]].
    * Above the cap, or for an id type the driver loop cannot order,
    * [[lloydRounds]] runs. */
  private[operators] def trainOnProjection(proj: DataFrame, n: Long,
      idCol: String, vecCol: String, k: Int,
      iters: Int): Array[Array[Double]] = {
    val small = n <= DriverPath.MaxVectors
    (if (small) driverTrain(proj, idCol, vecCol, k, iters) else None)
      .getOrElse(lloydRounds(proj, n, idCol, vecCol, k, iters))
  }

  /** The distributed Lloyd rounds: one aggregate job per iteration. */
  private[operators] def lloydRounds(proj: DataFrame, n: Long,
      idCol: String, vecCol: String, k: Int,
      iters: Int): Array[Array[Double]] = {
    val toDouble = (r: org.apache.spark.sql.Row) =>
      r.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray

    // init: k vectors evenly spaced through the id order (the k lowest ids
    // would all come from one region when ids correlate with content).
    // zipWithIndex over the range-sorted rows stays distributed — a global
    // row_number() window would funnel the whole corpus through one
    // partition, which cannot survive a large corpus.
    val step = math.max(1L, n / k)
    var centroids: Array[Array[Double]] = proj
      .select(col(vecCol), col(idCol)).orderBy(col(idCol))
      .rdd.zipWithIndex()
      .filter(_._2 % step == 0)
      .map(_._1)
      .take(k)
      .map(toDouble).map(l2normalize)

    for (_ <- 0 until iters) {
      val assigned = proj.select(
        NativeExprs.nearestCentroid(col(vecCol), centroids).as("cell"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      val means = assigned
        .groupBy(col("cell"), col("pos"))
        .agg((sum(col("x").cast(DecimalType(28, 12))) /
          count(lit(1))).cast(DoubleType).as("m"))
        .collect()
      val next = Array.tabulate(centroids.length)(c => centroids(c).clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      }
      centroids = next.map(l2normalize)
    }
    centroids
  }

  /** Driver twin of the distributed Lloyd rounds: ONE collect of the
    * already-checkpointed projection, then init + `iters` updates in plain
    * Scala. Bit-identical to the distributed branch by construction —
    * every numeric step reuses Spark's own arithmetic:
    *  - seeds: rows sorted by id, every ⌊n/k⌋-th, first k (= the
    *    orderBy + zipWithIndex + take pipeline);
    *  - assignment: the same ascending-index double dot loop as
    *    NativeVec.nearestCentroid, strict `>` so ties keep the lowest
    *    index;
    *  - means: the same `(sum(cast(x as DECIMAL(28,12))) / count)` tree
    *    evaluated through [[org.apache.spark.sql.types.Decimal]] itself —
    *    `Decimal(double)` + `changePrecision(28,12)` is the Cast, exact
    *    BigDecimal addition is the Sum (order-independent), `Decimal./`
    *    + `toPrecision(38,12)` is the Divide + CheckOverflow.
    * IvfDriverParitySpec pins the equality against [[lloydRounds]].
    * Returns None for non-numeric id types (falls back). */
  private def driverTrain(proj: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): Option[Array[Array[Double]]] = {
    val raw = proj.select(col(idCol), col(vecCol)).collect()
    if (raw.isEmpty) return Some(Array.empty)
    val idKey: Any => Option[Long] = {
      case i: java.lang.Integer => Some(i.longValue)
      case l: java.lang.Long    => Some(l.longValue)
      case s: java.lang.Short   => Some(s.longValue)
      case b: java.lang.Byte    => Some(b.longValue)
      case _                    => None
    }
    if (idKey(raw.head.get(0)).isEmpty) return None
    val rows: Array[(Long, Array[Double])] = raw.map { r =>
      (idKey(r.get(0)).getOrElse(return None),
        r.getSeq[Any](1).map {
          case f: Float  => f.toDouble
          case d: Double => d
        }.toArray)
    }.sortBy(_._1)
    val n = rows.length
    val step = math.max(1L, n.toLong / k)
    var centroids: Array[Array[Double]] = rows.indices
      .filter(_ % step == 0).take(k).map(i => l2normalize(rows(i)._2.clone()))
      .toArray

    def nearest(v: Array[Double]): Int = {
      var best = 0; var bestDot = Double.NegativeInfinity
      var c = 0
      while (c < centroids.length) {
        val p = centroids(c)
        var dot = 0.0; var i = 0
        val m = math.min(v.length, p.length)
        while (i < m) { dot += v(i) * p(i); i += 1 }
        if (dot > bestDot) { bestDot = dot; best = c }
        c += 1
      }
      best
    }

    import org.apache.spark.sql.types.Decimal
    val dimMax = rows.iterator.map(_._2.length).max
    for (_ <- 0 until iters) {
      val sums = Array.ofDim[java.math.BigDecimal](centroids.length, dimMax)
      val cnts = Array.ofDim[Long](centroids.length, dimMax)
      rows.foreach { case (_, v) =>
        val cell = nearest(v)
        var i = 0
        while (i < v.length) {
          cnts(cell)(i) += 1 // count(lit(1)): every exploded row counts
          val d = Decimal(v(i))
          if (d.changePrecision(28, 12)) { // Cast: null on overflow, Sum skips
            val jb = d.toJavaBigDecimal
            sums(cell)(i) =
              if (sums(cell)(i) == null) jb else sums(cell)(i).add(jb)
          }
          i += 1
        }
      }
      val next = Array.tabulate(centroids.length)(c => centroids(c).clone())
      var c = 0
      while (c < centroids.length) {
        var i = 0
        while (i < dimMax) {
          if (cnts(c)(i) > 0 && sums(c)(i) != null && i < next(c).length) {
            val q = Decimal(scala.math.BigDecimal(sums(c)(i))) /
              Decimal(cnts(c)(i))
            if (q != null) {
              // CheckOverflow(=toPrecision): copy, then HALF_UP to (38,12)
              val bounded = Decimal(q.toJavaBigDecimal)
              if (bounded.changePrecision(38, 12))
                next(c)(i) = bounded.toDouble
            }
          }
          i += 1
        }
        c += 1
      }
      centroids = next.map(l2normalize)
    }
    Some(centroids)
  }

  /** Per-query probe list: the `nprobe` cell indexes with the largest
    * query·centroid dot (shared by the transient [[topK]] and the
    * persisted [[IvfIndex.topK]]). */
  private[operators] def probeCells(qv: Column,
      centroids: Array[Array[Double]], nprobe: Int): Column = {
    val scored = (0 until centroids.length).map { i =>
      struct(NativeExprs.dotProduct(qv,
        typedLit(centroids(i).toSeq)).as("d"),
        lit(i).as("cell"))
    }
    slice(reverse(array_sort(array(scored: _*))), 1, nprobe)
      .getField("cell")
  }

  /** Exact-cosine top-k over the union of the `nprobe` nearest cells per
    * query. `nprobe` is the recall/cost knob: cells not probed are never
    * read — the point of IVF at scale. */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 5, nCells: Int = 16, iters: Int = 3,
      nprobe: Int = 8): DataFrame = {
    val (proj, n) = checkpointSpread(corpus.select(col(idCol), col(vecCol)))
    val centroids = trainOnProjection(proj, n, idCol, vecCol, nCells, iters)

    val c = proj.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
      .withColumn("cell", NativeExprs.nearestCentroid(col("cv"), centroids))

    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell", explode(probeCells(col("qv"), centroids, nprobe))))

    val scored = c.join(q, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        Vectors.cosine(col("qv"), col("cv")).as("cosv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosv").desc, col("cand_id"))
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("cand_id"),
        round(col("cosv"), 6).as("cosine"), col("rk"))
  }
}
