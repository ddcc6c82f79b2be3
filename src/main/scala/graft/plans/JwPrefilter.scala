package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.types.DoubleType
import graft.functions.JaroWinklerSim

/** Optimizer rule: in front of an expensive `jaro_winkler(a, b) >= t`
  * predicate (t > 0.8), inject the cheap length-ratio bound it implies —
  * so the O(|a|·window) similarity only runs on pairs that could pass.
  *
  * Derivation: for t > 0.7 the Winkler branch is active, and
  * jw = j + l·0.1·(1−j) ≤ 0.6·j + 0.4, so jw ≥ t ⇒ j ≥ (t−0.4)/0.6.
  * Jaro itself is bounded by the length ratio: with m ≤ min(|a|,|b|),
  * j ≤ (m/|a| + m/|b| + 1)/3 ≤ (2 + min/max)/3, hence
  * min/max ≥ 3·(t−0.4)/0.6 − 2 — strictly positive exactly when
  * t > 0.8, which is the firing condition. The injected conjunct is
  * IMPLIED by the original predicate, so `orig AND injected ≡ orig` on
  * every row (null/false both reject in Filter and Join matching) —
  * the rewrite is sound wherever the predicate appears.
  *
  * A rounded similarity (`scale ≥ 0`) can round a value up by at most
  * half an ulp of the scale, so the threshold is first relaxed by
  * 10^-scale; a further 1e-9 guards the float evaluation of the bound
  * itself. Matches both Filter conditions and Inner/Cross join
  * conditions (where Catalyst lands a pushed blocked-ER predicate —
  * the d41 shape). Installed per session through [[Rules.install]];
  * a TreeNodeTag keeps the rewrite idempotent across optimizer runs.
  */
object JwPrefilterRule extends Rule[LogicalPlan] {

  private val Done = TreeNodeTag[Boolean]("graft.jwPrefilterDone")

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, child) if f.getTagValue(Done).isEmpty =>
      bounds(cond) match {
        case Some(extra) =>
          val nf = Filter(And(extra, cond), child)
          nf.setTagValue(Done, true)
          nf
        case None => f
      }
    case j @ Join(l, r, jt @ (Inner | Cross), Some(cond), hint)
        if j.getTagValue(Done).isEmpty =>
      bounds(cond) match {
        case Some(extra) =>
          val nj = Join(l, r, jt, Some(And(extra, cond)), hint)
          nj.setTagValue(Done, true)
          nj
        case None => j
      }
  }

  /** The implied length-ratio conjunct for every qualifying
    * `jw >= Literal(t)` inside `cond`, or None if none qualify. */
  private def bounds(cond: Expression): Option[Expression] = {
    val found = cond.collect {
      case GreaterThanOrEqual(jw: JaroWinklerSim, Literal(t: Double, DoubleType))
          if qualifies(jw, t) => ratioBound(jw, t)
      case LessThanOrEqual(Literal(t: Double, DoubleType), jw: JaroWinklerSim)
          if qualifies(jw, t) => ratioBound(jw, t)
      case GreaterThan(jw: JaroWinklerSim, Literal(t: Double, DoubleType))
          if qualifies(jw, t) => ratioBound(jw, t)
    }
    found.reduceOption(And)
  }

  private def qualifies(jw: JaroWinklerSim, t: Double): Boolean =
    relaxed(jw, t) > 0.8

  private def relaxed(jw: JaroWinklerSim, t: Double): Double =
    if (jw.scale >= 0) t - math.pow(10.0, -jw.scale) else t

  /** min(len)·1 ≥ max(len)·(3·(t'−0.4)/0.6 − 2 − 1e-9) */
  private def ratioBound(jw: JaroWinklerSim, t: Double): Expression = {
    val c = 3.0 * ((relaxed(jw, t) - 0.4) / 0.6) - 2.0 - 1e-9
    val la = Cast(Length(jw.left), DoubleType)
    val lb = Cast(Length(jw.right), DoubleType)
    GreaterThanOrEqual(Least(Seq(la, lb)),
      Multiply(Greatest(Seq(la, lb)), Literal(c, DoubleType)))
  }
}
