package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.DataStreamWriter

/** How every streaming twin in the inventory runs its stream: start it,
  * drain everything its finite source holds, stop it.
  *
  * The drain runs at a fixed stream shuffle width. Stateful streaming
  * aggregations allocate one state-store instance per shuffle partition
  * per micro-batch; the twins' state is sketch- or group-sized (64 HLL
  * registers, d·w CM cells, ≤20 sources), so a width above that buys
  * nothing and pays the state-store/checkpoint fixed cost per partition
  * per micro-batch. The session width (`Session.cpus`) is restored when
  * the drain ends, so batch queries keep it. At production scale the same
  * knob is sized to the stream's STATE cardinality, not the batch data
  * width. The results do not depend on the width; the oracle gate checks
  * that. */
object Drain {
  private val Width = 4
  private val seq = new AtomicInteger(0)

  /** `prefix` plus a number no other call in this process returns. */
  def freshName(prefix: String): String = s"${prefix}_${seq.incrementAndGet()}"

  /** Runs `df` into a fresh memory table in output `mode` and returns the
    * table. */
  def drain(df: Dataset[_], mode: String): DataFrame = {
    val name = freshName("drain")
    run(df)(_.outputMode(mode).format("memory").queryName(name))
    df.sparkSession.table(name)
  }

  /** Starts `df` with the sink `sink` sets up, at the stream shuffle
    * width, processes all available input, and stops the query, also
    * when a batch fails (the failure is rethrown). */
  def run[T](df: Dataset[T])(sink: DataStreamWriter[T] => DataStreamWriter[T]): Unit = {
    val conf = df.sparkSession.conf
    val key = "spark.sql.shuffle.partitions"
    val prev = conf.get(key)
    conf.set(key, Width.toString)
    try {
      val q = sink(df.writeStream).start()
      try q.processAllAvailable() finally q.stop()
    } finally conf.set(key, prev)
  }
}
