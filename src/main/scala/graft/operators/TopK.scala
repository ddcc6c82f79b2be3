package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.ColumnBridge
import graft.plans.{Rules, TopKPerKeyPlan, TopKPerKeyStrategy, WindowTopKRewrite}

/** Public face of the custom per-key top-k operator
  * ([[graft.plans.TopKPerKeyPlan]]): resolves the named columns against
  * the input's analyzed plan, installs the planner strategy on the
  * session ([[graft.plans.Rules]]; `spark.sql.extensions` wiring would do
  * the same at session build), and hands the logical node back as a
  * DataFrame. */
object TopK {

  /** Install the planner strategy AND the window-idiom optimizer rule
    * ([[graft.plans.WindowTopKRewrite]]): after this, a plain
    * `row_number().over(...).filter(rk <= k)` (rank dropped, non-nullable
    * DESC-then-ASC sort keys) plans as the bounded-heap operator with no
    * Window node. */
  def installRewrite(spark: org.apache.spark.sql.SparkSession): Unit =
    Rules.install(spark, Seq(TopKPerKeyStrategy), Seq(WindowTopKRewrite))

  /** Top `k` rows per distinct `keyCols` value, ranked by `orderCol`
    * DESC with `tieCol` ASC as the total-order tiebreak. Equivalent to
    * `row_number().over(Window.partitionBy(keyCols).orderBy(orderCol
    * desc, tieCol)) <= k` minus the rank column — but executed as a
    * partial+final bounded heap, never a per-partition full sort. */
  def perKey(df: DataFrame, keyCols: Seq[String], orderCol: String,
      tieCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    Rules.install(spark, strategies = Seq(TopKPerKeyStrategy))
    val child = df.queryExecution.analyzed
    def attr(n: String) = child.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"column $n not in ${child.output.map(_.name).mkString(", ")}"))
    ColumnBridge.ofRows(spark,
      TopKPerKeyPlan(keyCols.map(attr), attr(orderCol), attr(tieCol), k, child))
  }
}
