package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-15 pin: [[Ivf.trainOnProjection]] gained a size-switched driver
  * fast-path (the Graph.connectedComponents precedent). The driver loop
  * replicates the distributed branch's arithmetic — seeds from the id
  * order, double-dot assignment with lowest-index ties, and the
  * DECIMAL(28,12)-sum / count mean evaluated through Spark's own Decimal
  * class — so both branches must agree BIT-FOR-BIT on the centroid
  * matrix, not just approximately. Checked on the real sf embeddings
  * (float vectors) and on synthetic double vectors with rounding-hostile
  * values (long decimal expansions, exact .5 ulp-ish tails, negatives,
  * zeros). */
class IvfDriverParitySpec extends SparkSpec {

  private def bits(c: Array[Array[Double]]): Seq[Seq[Long]] =
    c.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq

  private def trainBoth(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): (Array[Array[Double]], Array[Array[Double]]) = {
    val proj = df.select(col(idCol), col(vecCol)).localCheckpoint()
    val n = proj.count()
    val driver = Ivf.trainOnProjection(proj, n, idCol, vecCol, k, iters)
    val dist = Ivf.lloydRounds(proj, n, idCol, vecCol, k, iters)
    (driver, dist)
  }

  test("sf0.001 float embeddings: driver == distributed, bit-for-bit") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val (a, b) = trainBoth(emb, "vec_id", "embedding", k = 16, iters = 3)
    assert(a.length == b.length)
    assert(bits(a) == bits(b))
  }

  test("synthetic doubles with hostile decimals: driver == distributed") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (0 until 300).map { i =>
      val v = Array.tabulate(8) { j =>
        rnd.nextInt(5) match {
          case 0 => 0.0
          case 1 => -1.0 / 3.0 + j * 0.1
          case 2 => rnd.nextDouble() * 2 - 1
          case 3 => 0.0000000000005 * (i % 7 - 3) // exact .5 at scale 12
          case _ => math.sin(i * 31 + j)
        }
      }
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("id", "v")
    val (a, b) = trainBoth(df, "id", "v", k = 5, iters = 4)
    assert(bits(a) == bits(b))
  }

  test("int ids and k > distinct cells: driver == distributed") {
    import spark.implicits._
    val rows = (0 until 40).map(i => (i, Seq.fill(4)((i % 3).toDouble)))
    val df = rows.toDF("id", "v")
    val (a, b) = trainBoth(df, "id", "v", k = 7, iters = 3)
    assert(bits(a) == bits(b))
  }
}
