package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.LongType

/** Dynamic-time-warping alignment cost between two integer series
  * (Sakoe & Chiba 1978; absolute-difference local cost, unit steps
  * {diagonal, up, left}, no band constraint) as a codegen'd
  * expression — the time-series similarity kernel behind profile
  * clustering and shape-based dedup. Third member of the per-row-DP
  * family ([[WisDpExpr]], [[NwAlignExpr]]): a quadratic recurrence
  * no join/window composition expresses, run as one two-row DP per
  * pair inside whole-stage codegen.
  *
  * All arithmetic is 64-bit integer (costs are |a-b| of long counts),
  * so the result is bit-exact on any engine. The oracle replays the
  * identical recurrence in a recursive CTE carrying each DP row as a
  * LIST, resolving the within-row sequential dependency
  * `dp[j] = c_j + min(m_j, dp[j-1])` (with `m_j = min(prev[j-1],
  * prev[j])`) through the prefix-min identity
  * `dp[j] = C_j + min_k≤j (m_k − C_{k−1})` over cost prefix sums C.
  */
object DtwExpr {

  /** Static forwarder target for generated Java code. */
  def cost(aArr: ArrayData, bArr: ArrayData): Long = {
    val a = aArr.toLongArray()
    val b = bArr.toLongArray()
    val n = a.length
    val m = b.length
    if (n == 0 || m == 0) return 0L
    // two-row DP; boundary dp[0][0]=0, dp[i][0]=dp[0][j]=+inf
    val Inf = Long.MaxValue / 4
    var prev = new Array[Long](m + 1)
    var cur = new Array[Long](m + 1)
    var j = 1
    while (j <= m) { prev(j) = Inf; j += 1 }
    var i = 1
    while (i <= n) {
      cur(0) = Inf
      // for i == 1 the only in-bound predecessor of (1,1) is (0,0)=0
      if (i == 1) prev(0) = 0L else prev(0) = Inf
      j = 1
      while (j <= m) {
        val c = math.abs(a(i - 1) - b(j - 1))
        cur(j) = c + math.min(prev(j - 1), math.min(prev(j), cur(j - 1)))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }

  /** Column form: DTW cost between two `array<long>` series. */
  def dtw(a: Column, b: Column): Column =
    Native.call("dtw_cost", DtwExpr, "cost", LongType)(a, b)
}
