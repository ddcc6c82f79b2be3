package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Kruskal spanning-forest selection (Kruskal 1956) over a
  * rank-ordered edge list — union-find with path halving inside one
  * codegen'd pass per graph, the [[GreedyMatchExpr]] bounded-summary
  * shape: the caller sorts edges (descending weight for a maximum
  * spanning backbone, ascending for a minimum one) and the
  * expression flags the edges that join two distinct components.
  * The oracle replays the walk as a recursive CTE carrying the
  * component-label list and relabeling on every accepted edge
  * (naive union; identical acceptance decisions).
  *
  * Inputs: endpoint arrays in rank order. Output: `array<long>`
  * 0/1 flags, 1 = edge in the spanning forest.
  */
object KruskalFlagsExpr {

  /** Static forwarder target for generated Java code. */
  def flags(usArr: ArrayData, vsArr: ArrayData): ArrayData = {
    val us = usArr.toLongArray()
    val vs = vsArr.toLongArray()
    val n = us.length
    val out = new Array[Long](n)
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp) // path halving
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    var i = 0
    while (i < n) {
      val ru = find(us(i))
      val rv = find(vs(i))
      if (ru != rv) {
        out(i) = 1L
        parent.put(rv, ru)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column form over rank-ordered endpoint arrays. */
  def kruskalFlags(us: Column, vs: Column): Column =
    Native.call("kruskal_flags", KruskalFlagsExpr, "flags",
      ArrayType(LongType, containsNull = false))(us, vs)
}
