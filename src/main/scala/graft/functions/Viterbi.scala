package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Viterbi decoding (Viterbi 1967; Rabiner 1989 tutorial form) of a
  * binary observation sequence under a fixed two-state min-sum HMM —
  * the most-likely-hidden-path primitive behind regime detection and
  * sequence denoising. Integer additive costs: staying in a state
  * costs [[ViterbiExpr.Stay]], switching costs [[ViterbiExpr.Switch]],
  * emitting the state's own symbol costs [[ViterbiExpr.Match]] and
  * the other symbol [[ViterbiExpr.Mismatch]]; ties prefer previous
  * state 0 and final state 0, so the decoded path is unique and
  * engine-replayable. Fourth member of the per-key-DP family
  * ([[WisDpExpr]], [[NwAlignExpr]], [[DtwExpr]]): forward DP plus
  * backpointer unwind in one codegen'd pass per key; the oracle
  * replays it as a forward recursive CTE carrying (dp0, dp1) and the
  * growing backpointer lists, then a second recursive CTE walking
  * the backpointers from T down to 1.
  *
  * Input: `array<long>` of 0/1 observations. Output: the decoded
  * state path as a '0'/'1' string of the same length.
  */
object ViterbiExpr {
  final val Stay = 1L
  final val Switch = 3L
  final val Match = 0L
  final val Mismatch = 2L

  /** Static forwarder target for generated Java code. */
  def decode(arr: ArrayData): UTF8String = {
    val o = arr.toLongArray()
    val T = o.length
    if (T == 0) return UTF8String.fromString("")
    var dp0 = if (o(0) == 0L) Match else Mismatch
    var dp1 = if (o(0) == 1L) Match else Mismatch
    // bp(s)(t): best previous state when ending step t in state s
    val bp0 = new Array[Byte](T)
    val bp1 = new Array[Byte](T)
    var t = 1
    while (t < T) {
      val c00 = dp0 + Stay; val c10 = dp1 + Switch
      val base0 = if (c00 <= c10) { bp0(t) = 0; c00 } else { bp0(t) = 1; c10 }
      val c01 = dp0 + Switch; val c11 = dp1 + Stay
      val base1 = if (c01 <= c11) { bp1(t) = 0; c01 } else { bp1(t) = 1; c11 }
      dp0 = base0 + (if (o(t) == 0L) Match else Mismatch)
      dp1 = base1 + (if (o(t) == 1L) Match else Mismatch)
      t += 1
    }
    val out = new Array[Byte](T)
    var s = if (dp0 <= dp1) 0 else 1
    t = T - 1
    while (t >= 0) {
      out(t) = ('0' + s).toByte
      if (t > 0) s = if (s == 0) bp0(t) else bp1(t)
      t -= 1
    }
    UTF8String.fromBytes(out)
  }

  /** Column form: decoded state path over an `array<long>` of 0/1. */
  def viterbi(obs: Column): Column =
    Native.call("viterbi_decode", ViterbiExpr, "decode", StringType)(obs)
}
