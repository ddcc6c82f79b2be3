package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** V-optimal histogram error curve over one key's ordered frequency
  * series — for each bucket budget `b = 1..maxB`, the minimum total
  * within-bucket sum of squared errors achievable by ANY partition of
  * the series into `b` contiguous buckets (Jagadish, Koudas,
  * Muthukrishnan, Poosala, Sevcik & Suel 1998, "Optimal Histograms
  * with Quality Guarantees"). The error-vs-buckets elbow curve is the
  * histogram-budget advisor's input.
  *
  * The O(n²·B) interval DP is a per-key sequential recurrence
  * (`dp_b[j] = min_i dp_{b-1}[i-1] + sse(i,j)`), so — the WisDp
  * shape — it runs inside ONE codegen'd expression over the per-key
  * ordered array, keys embarrassingly parallel. Input: `array<long>`
  * of non-negative frequencies in bucket order. Output:
  * `array<double>` of optimal SSE for b = 1..min(maxB, n). All
  * arithmetic mirrors the SQL oracle bit-for-bit: integer prefix
  * sums, differences subtracted as longs then widened to double, one
  * double multiply/divide per interval, one add per DP candidate —
  * so the min is taken over identical double sets. The minimum SSE
  * per budget is unique (it is an optimum), making the curve
  * tie-safe even though the optimal boundaries may not be.
  */
object VOptCurveExpr {

  /** Static forwarder target for generated Java code. */
  def compute(arr: ArrayData, maxB: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val ys = arr.toLongArray()
    // 1-indexed integer prefix sums (index 0 = empty prefix)
    val s = new Array[Long](n + 1)
    val sq = new Array[Long](n + 1)
    var i = 0
    while (i < n) {
      s(i + 1) = s(i) + ys(i)
      sq(i + 1) = sq(i) + ys(i) * ys(i)
      i += 1
    }
    // sse over the 1-indexed inclusive interval [i, j]
    @inline def sse(i: Int, j: Int): Double = {
      val d = (s(j) - s(i - 1)).toDouble
      (sq(j) - sq(i - 1)).toDouble - d * d / (j - i + 1).toDouble
    }
    val bMax = math.min(maxB, n)
    val out = new Array[Double](bMax)
    // prev(j-1) holds dp_{b}[j] for the current b (0-indexed storage)
    var prev = new Array[Double](n)
    var j = 1
    while (j <= n) { prev(j - 1) = sse(1, j); j += 1 }
    out(0) = prev(n - 1)
    var b = 2
    while (b <= bMax) {
      val cur = new Array[Double](n)
      j = 1
      while (j <= n) {
        if (j < b) cur(j - 1) = 1e18
        else {
          var best = Double.MaxValue
          var i2 = b
          while (i2 <= j) {
            val cand = prev(i2 - 2) + sse(i2, j)
            if (cand < best) best = cand
            i2 += 1
          }
          cur(j - 1) = best
        }
        j += 1
      }
      prev = cur
      out(b - 1) = prev(n - 1)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Column form: SSE curve for b = 1..maxB over a bucket-ordered
    * `array<long>` frequency series. */
  def voptCurve(orderedCounts: Column, maxB: Int): Column =
    Native.call("voptimal_curve", VOptCurveExpr, "compute",
      ArrayType(DoubleType, containsNull = false), Seq(maxB))(orderedCounts)
}
