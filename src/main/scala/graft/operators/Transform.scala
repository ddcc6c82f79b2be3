package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import graft.plan.TransformStep

/** SQL transform stage (SURVEY.md §2A #5-8).
  *
  * The reference materializes every step into pandas
  * (`con.execute(sql).df()`, reference templates.py:108) — here each step is
  * only a temp view over a lazy plan, so Catalyst optimizes the whole
  * multi-step pipeline end-to-end (pushdown and pruning cross step
  * boundaries; strictly better than the reference's eager execution,
  * SURVEY.md §4).
  */
object Transform {

  /** Ordered steps; each step's SQL sees all prior step names plus source
    * views (reference templates.py:99-113). Returns the last step's frame. */
  def runSteps(spark: SparkSession, steps: Seq[TransformStep]): DataFrame = {
    require(steps.nonEmpty, "transform.steps must be non-empty")
    steps.map { st =>
      val out = spark.sql(st.sql)
      out.createOrReplaceTempView(st.name)
      out
    }.last
  }

  /** `python_udf` (reference tools.py:67-72): adds a column from a row-wise
    * arithmetic/boolean expression. `pandas.eval`'s expression language is a
    * subset of Spark SQL's, so this is the codegen'd `expr`, not a UDF. */
  def withExprColumn(df: DataFrame, expression: String, newCol: String): DataFrame =
    df.withColumn(newCol, expr(expression))
}
