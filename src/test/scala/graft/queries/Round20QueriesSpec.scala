package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.HistQuantile

/** Semantic invariants of the twentieth batch: SQ8 recall against exact
  * brute force, artifact-cycle losslessness, and the anomaly monitor's
  * window arithmetic.
  */
class Round20QueriesSpec extends SparkSpec {
  import spark.implicits._

  test("SQ8-filtered rerank recovers (nearly) the exact top-5") {
    val got = Round20Queries.s12_sq8_rerank(spark, sf)
      .select($"query_id", $"cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val exact = graft.operators.Similarity.bruteForceTopK(
        emb, emb.filter($"vec_id" < 5), "vec_id", "embedding", k = 5)
      .select($"query_id", $"cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got.keySet == exact.keySet)
    got.foreach { case (q, cands) =>
      assert(cands.size == 5)
      // 8-bit quantization on a shared per-dim grid is near-lossless —
      // a 25-candidate margin must recover ≥ 4 of the 5 true neighbors
      assert((cands & exact(q)).size >= 4,
        s"query $q: SQ8 kept $cands vs exact ${exact(q)}")
    }
  }

  test("histogram artifact cycle is lossless: merged = recomputed-from-scratch") {
    Round20Queries.p27_hist_artifact_update(spark, sf).collect() // runs cycle
    val li = graft.Tables.load(spark, sf, "lineitem")
    val cents = li.select(
      round($"l_extendedprice" * 100).cast("long").as("c"))
    val direct = HistQuantile.histogram(cents, "c", 100000L)
    val artifact = spark.read.parquet(
      graft.Scratch.dir("p27_hist_merged", sf))
    assert(artifact.exceptAll(direct).isEmpty &&
      direct.exceptAll(artifact).isEmpty,
      "write-back merge must equal the full-data histogram cell for cell")
  }

  test("anomaly monitor: flags and percentages agree with the window sums") {
    val rows = Round20Queries.q82_hourly_anomaly(spark, sf).collect()
    assert(rows.nonEmpty, "fixture spans more than 24 hours")
    rows.foreach { r =>
      val (cnt, sumPrev, pct, flag) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
      assert(sumPrev > 0)
      assert(pct == cnt * 2400 / sumPrev, "integer basis-point arithmetic")
      assert(flag == (cnt * 24 > sumPrev * 2), "flag matches its definition")
    }
    // hours are consecutive outputs of the same hourly aggregate minus
    // the 24-hour warmup
    val raw = graft.Tables.load(spark, sf, "events")
    val nHours = raw.withColumn("ts_us", graft.Tables.tsMicros(raw))
      .select(date_trunc("hour", $"ts_us")).distinct().count()
    assert(rows.length == nHours - 24)
  }
}
