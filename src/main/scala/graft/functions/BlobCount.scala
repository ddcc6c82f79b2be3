package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.LongType

/** 4-connected component (blob) count of a thresholded 8×8 raster — the
  * vision primitive behind object counting, run as one 64-bit BFS per
  * row inside whole-stage codegen. The grid packs into a single Long
  * bitmask; neighbor expansion is four shifted masks with column guards
  * (shift-left must not wrap across row boundaries). The oracle replays
  * connectivity as a recursive reachability closure joined on the
  * adjacency relation, then counts distinct min-labels — a completely
  * different algorithm whose agreement the hash gate certifies.
  */
object BlobCountExpr {
  private val NotLeftCol = 0xFEFEFEFEFEFEFEFEL  // bit i with i%8 != 0
  private val NotRightCol = 0x7F7F7F7F7F7F7F7FL // bit i with i%8 != 7

  /** Static forwarder target for generated Java code. */
  def count(px: ArrayData, threshold: Int): Long = {
    var on = 0L
    var i = 0
    val n = math.min(px.numElements(), 64)
    while (i < n) {
      if (px.getInt(i) >= threshold) on |= 1L << i
      i += 1
    }
    var blobs = 0L
    while (on != 0L) {
      blobs += 1
      // flood-fill from the lowest set bit via mask expansion
      var comp = java.lang.Long.lowestOneBit(on)
      var grown = true
      while (grown) {
        val expand = comp |
          ((comp << 1) & NotLeftCol) | ((comp >>> 1) & NotRightCol) |
          (comp << 8) | (comp >>> 8)
        val next = expand & on
        grown = next != comp
        comp = next
      }
      on &= ~comp
    }
    blobs
  }

  /** Column form: pixels is the decoded int raster. */
  def blobCount(pixels: Column, threshold: Int): Column =
    Native.call("blob_count", BlobCountExpr, "count", LongType, Seq(threshold))(pixels)
}
