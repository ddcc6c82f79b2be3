package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Weighted isotonic regression over one key's binned observations —
  * the Pool-Adjacent-Violators Algorithm (PAVA; Barlow, Bartholomew,
  * Bremner & Brunk 1972, "Statistical Inference under Order
  * Restrictions"): fit the nondecreasing step function minimizing the
  * weighted squared error, the standard probability-calibration
  * operator for classifier scores.
  *
  * The pooling pass is a per-key sequential stack recurrence (each new
  * bin may trigger a cascade of merges backwards), so — like
  * [[WisDpExpr]] — the shape is: group bins to a sorted array per key,
  * run the O(m) stack algorithm inside ONE codegen'd expression, keys
  * embarrassingly parallel. Input: `array<struct<bin, w, wy>>` sorted
  * ascending by bin (`array_sort(collect_list(struct(...)))`), with
  * `w` = bin weight (doc count) and `wy` = weighted label sum — both
  * integers, so pool means are exact integer-ratio doubles and pool
  * comparisons are done cross-multiplied in integer arithmetic (no
  * float compare at all). Output: `array<double>` of fitted values
  * aligned with the input order. The SQL oracle replays the *same*
  * function through the minimax identity
  * `fit_i = max_{j<=i} min_{k>=i} mean(j..k)` — a genuinely different
  * algorithm whose agreement is the correctness gate.
  */
object PavaFitExpr {

  /** Static forwarder target for generated Java code. Struct fields are
    * read positionally: 0 = bin (sort key, unused here), 1 = w,
    * 2 = wy. Weights must be positive; cross-products stay far below
    * Long overflow for any corpus this engine bins (w, wy <= corpus
    * rows, product <= rows^2). */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    // pool stack: weight sum, weighted-label sum, bin count
    val pw = new Array[Long](n)
    val pwy = new Array[Long](n)
    val pc = new Array[Int](n)
    var top = -1
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 3)
      top += 1
      pw(top) = row.getLong(1)
      pwy(top) = row.getLong(2)
      pc(top) = 1
      // merge while the new pool's mean violates nondecreasing order:
      // mean(top) < mean(top-1)  <=>  wy_t * w_{t-1} < wy_{t-1} * w_t
      while (top > 0 && pwy(top) * pw(top - 1) < pwy(top - 1) * pw(top)) {
        pw(top - 1) += pw(top)
        pwy(top - 1) += pwy(top)
        pc(top - 1) += pc(top)
        top -= 1
      }
      i += 1
    }
    val out = new Array[Double](n)
    var p = 0
    var pos = 0
    while (p <= top) {
      val f = pwy(p).toDouble / pw(p).toDouble
      var c = 0
      while (c < pc(p)) { out(pos) = f; pos += 1; c += 1 }
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Column form: isotonic fit for a bin-sorted `array<struct<bin, w,
    * wy>>`, returned aligned with the input order. */
  def pavaFit(sortedBins: Column): Column =
    Native.call("pava_fit", PavaFitExpr, "compute",
      ArrayType(DoubleType, containsNull = false))(sortedBins)
}
