package graft.queries

import org.apache.spark.sql.SparkSession

/** Stream-shuffle scoping for every streaming twin in the inventory.
  *
  * Stateful streaming aggregations allocate one state-store instance
  * per shuffle partition per micro-batch; the twins' stateful state is
  * sketch- or group-sized (64 HLL registers, d·w CM cells, ≤20
  * sources), so the session's data-sized shuffle width (32) buys
  * nothing and pays 8× the state-store/checkpoint fixed cost per
  * micro-batch. Scoping the conf to the stream's drain keeps batch
  * queries at the session width. At production scale the same knob is
  * sized to the stream's STATE cardinality, not the batch data width —
  * that is the point being encoded here. The results do not depend on
  * the width; the oracle gate checks that. */
object StreamConf {
  def withStreamShuffle[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }
}
