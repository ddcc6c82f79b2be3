package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.LongType

/** Total cost of an optimal (Huffman) prefix code over one key's symbol
  * frequencies — `sum_i c_i * len_i`, equivalently the sum of all
  * internal-node weights created by the greedy smallest-two merge
  * (Huffman 1952, "A Method for the Construction of
  * Minimum-Redundancy Codes").
  *
  * The greedy merge is inherently sequential over the sorted frequency
  * list, so — like [[WisDpExpr]] — the Spark-native shape is: group
  * frequencies to a sorted array per key, then run the merge inside ONE
  * codegen'd expression per row, keys embarrassingly parallel. Input:
  * `array<long>` of positive counts sorted ascending
  * (`array_sort(collect_list(c))`). Runs the classic two-queue O(k)
  * algorithm (merged sums are produced in nondecreasing order, so a
  * second queue replaces the heap). The TOTAL cost is tie-invariant —
  * every Huffman tree is minimum-redundancy, so any tiebreak yields the
  * same sum — which is what makes the value replayable against a
  * recursive-CTE merge in the SQL oracle regardless of tie order.
  */
object HuffmanCostExpr {

  /** Static forwarder target for generated Java code. `arr` must be
    * sorted ascending; a single-symbol (or empty) alphabet codes for
    * free (cost 0 — the degenerate one-leaf tree). */
  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    if (n <= 1) return 0L
    val leaves = arr.toLongArray()
    val merged = new Array[Long](n - 1)
    var li = 0      // next unconsumed leaf
    var mi = 0      // next unconsumed merged sum
    var mEnd = 0    // number of merged sums produced
    var acc = 0L
    var step = 0
    while (step < n - 1) {
      // pop the two smallest across the leaf queue and the merged queue;
      // ties prefer leaves (cost-invariant, see class doc)
      var a = 0L
      if (li < n && (mi >= mEnd || leaves(li) <= merged(mi))) { a = leaves(li); li += 1 }
      else { a = merged(mi); mi += 1 }
      var b = 0L
      if (li < n && (mi >= mEnd || leaves(li) <= merged(mi))) { b = leaves(li); li += 1 }
      else { b = merged(mi); mi += 1 }
      val sum = a + b
      merged(mEnd) = sum
      mEnd += 1
      acc += sum
      step += 1
    }
    acc
  }

  /** Column form: total Huffman bits for an ascending `array<long>`. */
  def huffmanCost(sortedCounts: Column): Column =
    Native.call("huffman_cost", HuffmanCostExpr, "compute", LongType)(sortedCounts)
}
