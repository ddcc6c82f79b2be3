package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One slice of the query inventory: its builders by name and, for each
  * builder DuckDB can express, the oracle SQL under the same name.
  * `graft.SparkEntry.modules` registers every module once. */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
