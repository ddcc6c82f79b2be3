package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}

/** 4-connected blob SIZE distribution of a thresholded 8×8 raster —
  * [[BlobCountExpr]]'s labeling sibling: the same single-Long mask
  * BFS, but each flood-filled component reports its popcount, and the
  * sizes come back sorted descending (size-filtering and largest-
  * object selection are what connected-component labeling is for).
  * The oracle replays labeling as the recursive reachability closure
  * grouped to min-labels, then sizes per label.
  */
object BlobSizesExpr {
  private val NotLeftCol = 0xFEFEFEFEFEFEFEFEL
  private val NotRightCol = 0x7F7F7F7F7F7F7F7FL

  /** Static forwarder target for generated Java code. */
  def sizes(px: ArrayData, threshold: Int): ArrayData = {
    var on = 0L
    var i = 0
    val n = math.min(px.numElements(), 64)
    while (i < n) {
      if (px.getInt(i) >= threshold) on |= 1L << i
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (on != 0L) {
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
      out += java.lang.Long.bitCount(comp).toLong
      on &= ~comp
    }
    new GenericArrayData(out.sorted(Ordering[Long].reverse).toArray)
  }

  /** Column form: pixels is the decoded int raster. */
  def blobSizes(pixels: Column, threshold: Int): Column =
    Native.call("blob_sizes", BlobSizesExpr, "sizes",
      ArrayType(LongType, containsNull = false), Seq(threshold))(pixels)
}
