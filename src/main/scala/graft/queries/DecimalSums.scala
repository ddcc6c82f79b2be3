package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Order-independent sums: accumulate in DECIMAL(18, scale), then cast to
  * double, so every partitioning and the DuckDB oracle produce the same
  * bits. (CoreQueries' `dsum` rounds to 2 dp before the cast — a
  * different function, kept there.) */
private[queries] object DecimalSums {
  def dec(c: Column, scale: Int = 4): Column = c.cast(DecimalType(18, scale))
  def dsum(c: Column, scale: Int = 4): Column =
    sum(dec(c, scale)).cast(DoubleType)
}
