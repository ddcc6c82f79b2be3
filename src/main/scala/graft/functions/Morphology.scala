package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Binary mathematical morphology (Serra 1982) on a thresholded 8×8
  * raster with the 4-connected cross structuring element — erosion,
  * dilation, and opening (erode→dilate), the standard noise-removal /
  * object-cleanup primitives before counting or measuring blobs. All
  * three run as shifted-mask algebra on the single-Long bitmap (the
  * [[BlobCountExpr]] machinery): out-of-grid counts as OFF, so border
  * pixels erode. Output: `[on, eroded, dilated, opened]` masks.
  * The oracle replays the definitions pixel-by-pixel over an unnested
  * position grid.
  */
object MorphExpr {
  private val NotLeftCol = 0xFEFEFEFEFEFEFEFEL
  private val NotRightCol = 0x7F7F7F7F7F7F7F7FL

  private def erode(m: Long): Long =
    m & ((m << 1) & NotLeftCol) & ((m >>> 1) & NotRightCol) &
      (m << 8) & (m >>> 8)

  private def dilate(m: Long): Long =
    m | ((m << 1) & NotLeftCol) | ((m >>> 1) & NotRightCol) |
      (m << 8) | (m >>> 8)

  /** Static forwarder target for generated Java code. */
  def masks(px: ArrayData, threshold: Int): ArrayData = {
    var on = 0L
    var i = 0
    val n = math.min(px.numElements(), 64)
    while (i < n) {
      if (px.getInt(i) >= threshold) on |= 1L << i
      i += 1
    }
    val e = erode(on)
    new GenericArrayData(Array(on, e, dilate(on), dilate(e)))
  }

  /** Column form: `[on, eroded, dilated, opened]` over the raster. */
  def morphology(pixels: Column, threshold: Int): Column =
    Native.call("morphology", MorphExpr, "masks",
      ArrayType(LongType, containsNull = false), Seq(threshold))(pixels)
}
