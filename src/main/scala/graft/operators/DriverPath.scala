package graft.operators

import org.apache.spark.sql.Dataset

/** The one size switch between an operator's driver loop and its
  * distributed rounds. Below a cap the operator collects its prepared
  * input and runs the same synchronous updates in plain Scala, with no
  * per-round job scheduling — the strategy a broadcast join picks for a
  * small side. Above it the distributed rounds the 100 TB design needs
  * run instead. Every operator keeps its distributed branch as a
  * `private[graft]` function over the prepared input, so parity specs
  * call that function directly rather than lowering a cap.
  */
object DriverPath {

  /** Edge cap for the graph loops (the Graph operators, d35, q136 and
    * q148): 2^20 edges of two or three longs are 16–24 MB of driver
    * arrays, plus the per-node maps the loops build over them. */
  val MaxEdges: Long = 1L << 20

  /** Vector cap for IVF's Lloyd training: 2^16 vectors × 64 dims × 8 B
    * ≈ 33 MB of driver memory. */
  val MaxVectors: Long = 1L << 16

  /** `ds` collected when it has at most [[MaxEdges]] rows, else None.
    * Runs one `count()` job, plus one `collect()` job when small — cache
    * or checkpoint `ds` first, since both read it. (IVF counts its
    * vectors anyway and compares that count with [[MaxVectors]].) */
  def rows[T](ds: Dataset[T]): Option[Array[T]] =
    if (ds.count() <= MaxEdges) Some(ds.collect()) else None
}
