package graft.plans

import graft.SparkSpec

/** [[Rules.install]] is idempotent: however often a query installs its
  * rules, the session holds each one once. */
class RulesSpec extends SparkSpec {
  test("installing the same rules twice leaves one copy of each") {
    val exp = spark.experimental
    val (prevStrategies, prevOptimizations) =
      (exp.extraStrategies, exp.extraOptimizations)
    try {
      exp.extraStrategies = Nil
      exp.extraOptimizations = Nil
      graft.operators.TopK.installRewrite(spark)
      Rules.install(spark, optimizations = Seq(JwPrefilterRule))
      graft.operators.TopK.installRewrite(spark)
      Rules.install(spark, optimizations = Seq(JwPrefilterRule))
      Rules.install(spark, Seq(TopKPerKeyStrategy), Seq(JwPrefilterRule))
      assert(exp.extraStrategies == Seq(TopKPerKeyStrategy))
      assert(exp.extraOptimizations == Seq(WindowTopKRewrite, JwPrefilterRule))
    } finally {
      exp.extraStrategies = prevStrategies
      exp.extraOptimizations = prevOptimizations
    }
  }
}
