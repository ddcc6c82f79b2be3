package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** The one installer of the program's Catalyst rules on a live session:
  * it adds only the strategies and optimizer rules `spark.experimental`
  * lacks, so a query may install its rules on every run. */
object Rules {
  def install(spark: SparkSession, strategies: Seq[SparkStrategy] = Nil,
      optimizations: Seq[Rule[LogicalPlan]] = Nil): Unit = {
    val exp = spark.experimental
    if (!strategies.forall(exp.extraStrategies.contains))
      exp.extraStrategies = (exp.extraStrategies ++ strategies).distinct
    if (!optimizations.forall(exp.extraOptimizations.contains))
      exp.extraOptimizations = (exp.extraOptimizations ++ optimizations).distinct
  }
}
