package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Config-driven library installation — the standard Spark extension point
  * for shipping engine functionality without code changes:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions ...
  * }}}
  *
  * injects the engine's native SQL functions (`try_strptime`,
  * `token_shingles`, `minhash_sig`, `simhash64`, `dot_product`,
  * `cosine_sim`, `rolling_min_hash`, the media codecs) into every session
  * built on the cluster, so plan SQL and ad-hoc queries can call them with
  * no `registerAll` invocation.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Dialect.nativeBuilders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
    // the custom per-key top-k: its planner strategy plus the optimizer
    // rule that rewrites the plain window-top-k idiom onto it
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    ext.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
  }
}
