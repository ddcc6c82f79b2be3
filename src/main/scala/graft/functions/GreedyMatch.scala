package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Greedy maximal matching over a weight-ranked edge list — the
  * ½-approximation to maximum-weight matching (Avis 1983) used to
  * assign near-duplicate pairs and pair up merge candidates: walk
  * the edges in descending weight order, keep an edge iff both
  * endpoints are still free. Inherently sequential over the ranked
  * list, so it runs inside ONE codegen'd pass over the per-graph
  * edge arrays (bounded by the summary-graph size, not the data) —
  * the WL/q148 bounded-summary pattern. The oracle replays the walk
  * as a recursive CTE carrying the matched-node list.
  *
  * Inputs: endpoint arrays `us`, `vs`, already sorted by the caller
  * in the tie-broken rank order. Output: `array<long>` of 0/1 flags,
  * one per edge, 1 = kept in the matching.
  */
object GreedyMatchExpr {

  /** Static forwarder target for generated Java code. */
  def flags(usArr: ArrayData, vsArr: ArrayData): ArrayData = {
    val us = usArr.toLongArray()
    val vs = vsArr.toLongArray()
    val n = us.length
    val out = new Array[Long](n)
    val matched = new java.util.HashSet[Long]()
    var i = 0
    while (i < n) {
      if (!matched.contains(us(i)) && !matched.contains(vs(i))) {
        out(i) = 1L
        matched.add(us(i))
        matched.add(vs(i))
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column form over rank-ordered endpoint arrays. */
  def greedyMatch(us: Column, vs: Column): Column =
    Native.call("greedy_match", GreedyMatchExpr, "flags",
      ArrayType(LongType, containsNull = false))(us, vs)
}
