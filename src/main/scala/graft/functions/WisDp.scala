package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.LongType

/** Weighted interval scheduling DP over one key's interval list — the
  * classic O(n log n) recurrence `dp[i] = max(dp[i−1], w_i + dp[p(i)])`
  * with `p(i)` found by binary search over the end-sorted intervals.
  *
  * A per-key sequential recurrence cannot be expressed with window
  * functions (each value depends on an *arbitrary earlier* DP entry,
  * not the previous row), so the Spark-native shape is: group to a
  * sorted array per key, then run the DP inside ONE codegen'd
  * expression per row — no UDF boxing, no driver loop, keys processed
  * embarrassingly parallel. Input: `array<struct<e, s, ok, w>>` sorted
  * ascending (struct comparison = (end, start, key) lexicographic, so
  * `array_sort(collect_list(...))` produces exactly the DP order).
  * Returns the maximum total weight of any non-overlapping subset
  * (touching intervals — `e_j ≤ s_i` — are compatible).
  */
object WisDpExpr {

  /** Static forwarder target for generated Java code. Struct fields are
    * read positionally: 0 = end, 1 = start, 3 = weight (2 is the sort
    * tiebreaker key and unused here). */
  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    if (n == 0) return 0L
    val ends = new Array[Long](n)
    val starts = new Array[Long](n)
    val weights = new Array[Long](n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 4)
      ends(i) = row.getLong(0)
      starts(i) = row.getLong(1)
      weights(i) = row.getLong(3)
      i += 1
    }
    val dp = new Array[Long](n + 1)
    i = 0
    while (i < n) {
      // p(i): number of intervals (in end order) with end <= start_i
      var lo = 0
      var hi = i
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ends(mid) <= starts(i)) lo = mid + 1 else hi = mid
      }
      val take = weights(i) + dp(lo)
      dp(i + 1) = if (take > dp(i)) take else dp(i)
      i += 1
    }
    dp(n)
  }

  /** Column form. */
  def wisDp(sortedIntervals: Column): Column =
    Native.call("wis_dp", WisDpExpr, "compute", LongType)(sortedIntervals)
}
