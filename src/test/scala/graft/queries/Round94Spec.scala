package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Invariants for the round-94 operators, pinned at sf0.001. */
class Round94Spec extends SparkSpec {

  test("p48: exactly the shredded users are unrecoverable, zero corruption") {
    val r = Round94Queries.p48_crypto_shred(spark, sf).collect().head
    val cust = graft.Tables.load(spark, sf, "customer")
    val total = cust.count()
    val shredded = cust.filter(col("c_custkey") % 10 === 3).count()
    assert(r.getAs[Long]("n_total") === total)
    assert(r.getAs[Long]("n_shredded") === shredded)
    assert(r.getAs[Long]("n_recoverable") === total - shredded)
    assert(r.getAs[Long]("integrity_failures") === 0L)
    val expected = cust.filter(col("c_custkey") % 10 =!= 3)
      .agg(sum(expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)")))
      .collect().head.getLong(0)
    assert(r.getAs[Long]("recovered_cents") === expected)
  }

  test("t52: keyness is non-negative and counts cover the corpus") {
    val rows = Round94Queries.t52_keyness_g2(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // G² is a log-likelihood ratio statistic: >= 0 up to rounding
      assert(r.getAs[Double]("g2") >= -1e-6)
      assert(Set("over", "under")(r.getAs[String]("direction")))
    }
    import graft.functions.Text
    val docs = graft.Tables.load(spark, sf, "documents")
    val srcTokens = docs.filter(col("source") === "src0")
      .select(explode(Text.tokens(col("text")))).count()
    assert(rows.map(_.getAs[Long]("a")).sum === srcTokens)
  }

  test("q136: peeling is monotone and the fixed point is a real 4-truss") {
    val rows = Round94Queries.q136_ktruss(spark, sf).collect()
      .sortBy(_.getAs[Long]("round"))
    assert(rows.length === 6)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("n_edges") <= a.getAs[Long]("n_edges"))
      case _ =>
    }
    // replay the peel driver-side and compare every round's census
    var edges = Round6Queries.copurchaseEdges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def census(r: Long, es: Set[(Long, Long)]): (Long, Long, Long) =
      (r, es.size.toLong, es.flatMap(e => Seq(e._1, e._2)).size.toLong)
    var expected = List(census(0, edges))
    for (round <- 1 to 5) {
      val adj = edges.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      edges = edges.filter { case (u, v) =>
        (adj.getOrElse(u, Set.empty) intersect
          adj.getOrElse(v, Set.empty)).size >= 2
      }
      expected = expected :+ census(round.toLong, edges)
    }
    val got = rows.map(r => (r.getAs[Long]("round"),
      r.getAs[Long]("n_edges"), r.getAs[Long]("n_nodes"))).toList
    assert(got === expected)
    // the distributed peel, which the driver path hides at every test SF
    val e0 = Round6Queries.copurchaseEdges(spark, sf).localCheckpoint(true)
    assert(Round94Queries.ktrussRounds(e0).toList === expected)
  }
}
