package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** Needleman–Wunsch global alignment score (match +2, mismatch −1,
  * gap −2) as a codegen'd expression — the second member of the
  * per-row-DP family ([[WisDpExpr]] is the first): a quadratic
  * recurrence over two strings that no combination of joins and
  * windows expresses, run as one tight two-row DP per pair inside
  * whole-stage codegen. The oracle replays the identical recurrence
  * in a recursive CTE that carries each DP row as a LIST, resolving
  * the within-row sequential dependency with the prefix-max identity
  * `new[j] = max_k≤j (cand[k] + 2k) − 2j`.
  */
object NwAlignExpr {
  final val Match = 2L
  final val Mismatch = -1L
  final val Gap = -2L

  def score(a: String, b: String): Long = {
    val n = a.length
    val m = b.length
    var prev = new Array[Long](m + 1)
    var cur = new Array[Long](m + 1)
    var j = 0
    while (j <= m) { prev(j) = Gap * j; j += 1 }
    var i = 1
    while (i <= n) {
      cur(0) = Gap * i
      j = 1
      while (j <= m) {
        val sub = prev(j - 1) +
          (if (a.charAt(i - 1) == b.charAt(j - 1)) Match else Mismatch)
        val del = prev(j) + Gap
        val ins = cur(j - 1) + Gap
        cur(j) = math.max(sub, math.max(del, ins))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }

  /** [[score]] over string column values: the [[NativeCall]] target. */
  def score(a: UTF8String, b: UTF8String): Long = score(a.toString, b.toString)

  /** Column form. */
  def nwAlign(a: Column, b: Column): Column =
    Native.call("nw_align", NwAlignExpr, "score", LongType)(a, b)
}
