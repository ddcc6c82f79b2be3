package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Gale–Shapley deferred acceptance (Gale & Shapley 1962) over dense
  * 0..n−1 ids — the stable-assignment primitive (suppliers to demand
  * regions, replicas to hosts) whose output provably admits no
  * blocking pair. Proposer-optimal and, by the classical theorem,
  * independent of proposal order; we still fix the order (lowest free
  * proposer next) so the oracle's step-by-step recursive-CTE replay
  * walks the identical sequence. Runs inside one codegen'd pass per
  * graph over the flattened preference matrices — the bounded-summary
  * pattern ([[GreedyMatchExpr]], [[KruskalFlagsExpr]]).
  *
  * Inputs: `prefC` — proposer-major flattened ranked acceptor ids
  * (n² longs); `rankS` — acceptor-major rank of each proposer
  * (n² longs). Output: matched acceptor id per proposer (n longs).
  */
object StableMatchExpr {

  /** Static forwarder target for generated Java code. */
  def matchAll(prefCArr: ArrayData, rankSArr: ArrayData): ArrayData = {
    val prefC = prefCArr.toLongArray()
    val rankS = rankSArr.toLongArray()
    val n = math.sqrt(prefC.length.toDouble).round.toInt
    val nextIdx = new Array[Int](n)
    val pC = Array.fill(n)(-1L)
    val pS = Array.fill(n)(-1L)
    var free = n
    while (free > 0) {
      var p = 0
      while (pC(p) != -1L) p += 1 // lowest-id free proposer
      val j = prefC(p * n + nextIdx(p)).toInt
      nextIdx(p) += 1
      val cur = pS(j)
      if (cur == -1L) {
        pS(j) = p; pC(p) = j; free -= 1
      } else if (rankS(j * n + p) < rankS(j * n + cur.toInt)) {
        pS(j) = p; pC(p) = j; pC(cur.toInt) = -1L
      }
    }
    new GenericArrayData(pC)
  }

  /** Column form over flattened n×n preference/rank matrices. */
  def stableMatch(prefC: Column, rankS: Column): Column =
    Native.call("stable_match", StableMatchExpr, "matchAll",
      ArrayType(LongType, containsNull = false))(prefC, rankS)
}
