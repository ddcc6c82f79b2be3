package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Burrows–Wheeler transform (Burrows & Wheeler 1994) of a bounded
  * ASCII prefix — the character-clustering front-end of bzip2-family
  * compression, used here as a compressibility probe: the drop in
  * RLE run count between the raw text and its BWT estimates how much
  * a context-sorting compressor would gain. Implemented as the
  * classic sorted-rotation construction (the caller bounds the input
  * so the O(n² log n) rotation sort stays constant per row). ASCII
  * inputs only by contract: Java string order and DuckDB's binary
  * collation agree exactly there, so the oracle can replay the same
  * rotation sort with `list_sort`.
  */
object BwtExpr {

  /** Static forwarder target for generated Java code. */
  def bwt(input: UTF8String): UTF8String = {
    val s = input.toString
    val n = s.length
    if (n == 0) return UTF8String.fromString("")
    val rotations = Array.tabulate(n)(i => s.substring(i) + s.substring(0, i))
    java.util.Arrays.sort(rotations, java.util.Comparator.naturalOrder())
    val out = new Array[Char](n)
    var i = 0
    while (i < n) { out(i) = rotations(i).charAt(n - 1); i += 1 }
    UTF8String.fromString(new String(out))
  }

  /** Column form. */
  def bwt(s: Column): Column =
    Native.call("bwt", BwtExpr, "bwt", StringType)(s)
}
