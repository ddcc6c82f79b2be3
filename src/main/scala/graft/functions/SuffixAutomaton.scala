package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** Distinct-substring count via a suffix automaton (Blumer et al.
  * 1985 DAWG; the classic online construction) — the linear-time
  * repetition/novelty probe: Σ over non-initial states of
  * `len(s) − len(link(s))` counts every distinct substring exactly
  * once. The oracle has no automaton, so it replays the definition
  * quadratically (`list_distinct` over all O(n²) substrings) — a
  * completely different computation whose agreement the hash gate
  * certifies, and the reason the input is a bounded prefix.
  */
object DistinctSubstringsExpr {

  /** Suffix-automaton construction, O(n·alphabet). */
  def count(p: String): Long = {
    val maxn = 2 * p.length + 5
    val link = new Array[Int](maxn)
    val len = new Array[Int](maxn)
    val trans = Array.fill(maxn)(new java.util.HashMap[Char, Int]())
    link(0) = -1
    var last = 0
    var size = 1
    p.foreach { ch =>
      val cur = size; size += 1
      len(cur) = len(last) + 1
      var x = last
      while (x != -1 && !trans(x).containsKey(ch)) {
        trans(x).put(ch, cur); x = link(x)
      }
      if (x == -1) link(cur) = 0
      else {
        val q = trans(x).get(ch)
        if (len(x) + 1 == len(q)) link(cur) = q
        else {
          val clone = size; size += 1
          len(clone) = len(x) + 1
          trans(clone).putAll(trans(q))
          link(clone) = link(q)
          while (x != -1 && trans(x).containsKey(ch) &&
              trans(x).get(ch) == q) {
            trans(x).put(ch, clone)
            x = link(x)
          }
          link(q) = clone; link(cur) = clone
        }
      }
      last = cur
    }
    var total = 0L
    var v = 1
    while (v < size) { total += len(v) - len(link(v)); v += 1 }
    total
  }

  /** [[count]] over a string column's value: the [[NativeCall]] target. */
  def count(p: UTF8String): Long = count(p.toString)

  /** Column form. */
  def distinctSubstrings(s: Column): Column =
    Native.call("distinct_substrings", DistinctSubstringsExpr, "count", LongType)(s)
}
