package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-row kernels for the hash/vector hot paths.
  *
  * The composable forms (higher-order `transform`/`aggregate` lambdas, or
  * 32–64 parallel aggregate columns) are interpreted per element and
  * generate very large plans; each kernel instead performs the whole
  * per-row computation in one tight JVM loop, called from whole-stage
  * codegen through [[NativeCall]] ([[NativeExprs]] holds the column
  * faces). Measured effect: the dedup/ANN query family dropped from ~32 s
  * to single-digit seconds at sf0.1 (see Bench history).
  */
object NativeHash {
  private val GOLDEN = 0x9e3779b97f4a7c15L

  /** 64-bit FNV-1a over bytes + avalanche finalizer (splitmix64). */
  def baseHash(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    mix(h)
  }

  def mix(z0: Long): Long = {
    var z = z0 + GOLDEN
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Whitespace-tokenize + n-gram shingles in one pass. */
  def tokenShingles(s: UTF8String, n: Int): ArrayData = {
    val toks = s.toString.trim.split("\\s+")
    if (toks.length < n || (toks.length == 1 && toks(0).isEmpty))
      return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j)); j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature: k independent min-hashes over a shingle array.
    * One strong base hash per shingle, k derived hashes via seeded mixes
    * (the standard one-hash + k-mix family). Empty set → Long.MaxValue
    * sentinel signature. */
  def minhashSig(shingles: ArrayData, k: Int): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val h0 = baseHash(shingles.getUTF8String(i).getBytes)
      var j = 0
      while (j < k) {
        val h = mix(h0 ^ (GOLDEN * (j + 1)))
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig.map(Long.box(_): Any))
  }

  /** Multiplier base for the portable minhash family ([[minhashSigPortable]]). */
  val PortableB2 = 1000033L

  /** Portable MinHash signature: k min-hashes over a shingle array in the
    * engine-portable mod-2^61-1 family — base hash `h0 = polyHash(shingle)`
    * (codepoint polynomial), derived hash j = `(B2^(j+1) · h0) mod 2^61-1`.
    * Pure modular integer arithmetic a SQL oracle replays exactly, unlike
    * [[minhashSig]]'s FNV+splitmix family (which needs unsigned 2^64
    * wraparound the oracle can't express). Min is duplicate-insensitive,
    * so callers may pass the raw (multiset) shingle array. Empty set →
    * 2^61-1 sentinel signature. */
  def minhashSigPortable(shingles: ArrayData, k: Int): ArrayData = {
    val M = RollingMinHash.M
    val sig = Array.fill(k)(M)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val h0 = polyHash(shingles.getUTF8String(i).toString)
      var p = 1L
      var j = 0
      while (j < k) {
        p = RollingMinHash.mulmod(p, PortableB2)
        val h = RollingMinHash.mulmod(p, h0)
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig.map(Long.box(_): Any))
  }

  /** Polynomial token hash mod 2^61-1 (same family as
    * [[RollingMinHash]]): engine-portable — an external oracle can
    * recompute it with plain modular integer arithmetic, unlike
    * FNV+splitmix whose 2^64 wraparound needs unsigned 64-bit semantics.
    * Iterates Unicode *codepoints* (not UTF-8 bytes) so it matches a
    * SQL-side `ord(substr(s, i, 1))` recomputation for any text, not just
    * ASCII. Only bits 0..60 carry entropy; SimHash's top 3 bits are
    * constant-zero for every document, which costs nothing (shared bits
    * never add Hamming distance). */
  def polyHash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      // mulmod < M and cp < 2^21 < M, so one conditional subtract folds
      h = RollingMinHash.mulmod(h, 1000003L) + cp
      if (h >= RollingMinHash.M) h -= RollingMinHash.M
      i += Character.charCount(cp)
    }
    h
  }

  /** 64-bit SimHash over a token array: each token's hash votes ±1 per bit
    * position; the sign vector packs into one long. */
  def simhash64(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val h = polyHash(tokens.getUTF8String(i).toString)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }
}

object NativeVec {
  /** Dot product of two numeric arrays in double precision, accumulated in
    * array order (IEEE-deterministic, matching the unnest-zip oracle).
    * `aFloat`/`bFloat` select the element accessor per side (float32
    * embeddings against double literal planes is a supported mix). */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y; i += 1
    }
    s
  }

  /** m31's 4×4-block SAD motion argmin in one tight loop: for block
    * `blk` of the 8×8 rasters (f1 = current, f0 = reference), scan
    * (dy, dx) ∈ [−1, 1]², SAD over in-bounds pixels only, and keep the
    * (sad, dy, dx)-lexicographic minimum — ascending scan order plus a
    * strict `<` makes the first minimum win, exactly the windowed
    * `orderBy(sad, dy, dx)` rank-1 semantics. Returns
    * [sad, dy, dx, n_valid] as longs. The composable HOF spelling of
    * the same search is interpreted per element (~1.4 µs each × 288
    * lambda evals/row); this is the §4 "native expression in the hot
    * path" form. */
  def blockMotionBest(f0: ArrayData, f1: ArrayData, blk: Int): ArrayData = {
    val bx = (blk % 2) * 4
    val by = (blk / 2) * 4
    var bestSad = Long.MaxValue
    var bestDy = 0L; var bestDx = 0L; var bestNv = 0L
    var dy = -1
    while (dy <= 1) {
      var dx = -1
      while (dx <= 1) {
        var sad = 0L; var nv = 0L
        var i = 0
        while (i < 16) {
          val x = bx + i % 4
          val y = by + i / 4
          if (x + dx >= 0 && x + dx <= 7 && y + dy >= 0 && y + dy <= 7) {
            sad += math.abs(f1.getInt(y * 8 + x).toLong -
              f0.getInt((y + dy) * 8 + x + dx).toLong)
            nv += 1
          }
          i += 1
        }
        if (sad < bestSad) {
          bestSad = sad; bestDy = dy; bestDx = dx; bestNv = nv
        }
        dx += 1
      }
      dy += 1
    }
    new GenericArrayData(Array[Any](bestSad, bestDy, bestDx, bestNv))
  }

  /** Exact squared L2 distance between two long arrays (quantized
    * embeddings — the s8/s9/d18 convention). Pure integer arithmetic:
    * order-independent, overflow-safe for round(x·10⁶) quantization up
    * to ~2²⁰ dims. */
  def l2sqLong(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      s += d * d; i += 1
    }
    s
  }

  /** All hyperplane-sign LSH signatures for one vector in one pass.
    * `planes` is laid out `[table * bitsPerTable + bit]`; returns one
    * packed sign-bit long per table. */
  def hyperSigs(vec: ArrayData, planes: Array[Array[Double]],
      bitsPerTable: Int, isFloat: Boolean): ArrayData = {
    val nTables = planes.length / bitsPerTable
    val out = new Array[Any](nTables)
    val dim = vec.numElements()
    var t = 0
    while (t < nTables) {
      var sig = 0L
      var b = 0
      while (b < bitsPerTable) {
        val p = planes(t * bitsPerTable + b)
        var dot = 0.0
        var i = 0
        val n = math.min(dim, p.length)
        while (i < n) {
          val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
          dot += x * p(i); i += 1
        }
        if (dot > 0) sig |= (1L << b)
        b += 1
      }
      out(t) = Long.box(sig)
      t += 1
    }
    new GenericArrayData(out)
  }

  /** LSH hyperplane signatures over a QUANTIZED long vector with INTEGER
    * plane weights — all arithmetic is exact long math, so an oracle
    * recomputing the same weights from the same LCG formula reproduces
    * every sign bit-for-bit (the s23 kNN-graph build's candidate
    * generator; float planes would make the Spark/DuckDB sign of
    * near-zero dots a rounding coin-flip). Layout mirrors [[hyperSigs]]:
    * `planes` is `[table * bitsPerTable + bit]`, one packed long per
    * table; a strictly positive dot sets the bit. */
  def hyperSigsLong(vec: ArrayData, planes: Array[Array[Long]],
      bitsPerTable: Int): ArrayData = {
    val nTables = planes.length / bitsPerTable
    val out = new Array[Any](nTables)
    val dim = vec.numElements()
    var t = 0
    while (t < nTables) {
      var sig = 0L
      var b = 0
      while (b < bitsPerTable) {
        val p = planes(t * bitsPerTable + b)
        var dot = 0L
        var i = 0
        val n = math.min(dim, p.length)
        while (i < n) { dot += vec.getLong(i) * p(i); i += 1 }
        if (dot > 0) sig |= (1L << b)
        b += 1
      }
      out(t) = Long.box(sig)
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Count of elements ≤ x in a SORTED long array — one binary search,
    * O(log n) per row. q130's orientation kernel: per (user, grid-cell)
    * row it yields the number of cell members at-or-before the user in
    * id order against a broadcast sorted member array, so the O(u·G)
    * census never shuffles or sorts the expanded rows (the window-cumsum
    * formulation measured 8.6 s at sf0.1 purely in exchange+sort). */
  def sortedCountLE(arr: ArrayData, x: Long): Long = {
    var lo = 0
    var hi = arr.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (arr.getLong(mid) <= x) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }

  /** Index of the centroid with the largest dot product (spherical
    * k-means assignment; ties keep the lowest index — deterministic). */
  def nearestCentroid(vec: ArrayData, centroids: Array[Array[Double]],
      isFloat: Boolean): Int = {
    var best = 0
    var bestDot = Double.NegativeInfinity
    val dim = vec.numElements()
    var c = 0
    while (c < centroids.length) {
      val p = centroids(c)
      var dot = 0.0
      var i = 0
      val n = math.min(dim, p.length)
      while (i < n) {
        val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
        dot += x * p(i); i += 1
      }
      if (dot > bestDot) { bestDot = dot; best = c }
      c += 1
    }
    best
  }

  /** Cosine similarity in one pass (dot + both norms in the same loop). */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

sealed trait VecBinary extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  private def f(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"$prettyName expects array<float|double>, got $other")
  }
  protected def aFloat: Boolean = f(left)
  protected def bFloat: Boolean = f(right)
}

case class DotProductF(left: Expression, right: Expression) extends VecBinary {
  override def prettyName: String = "dot_product"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeVec.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], aFloat, bFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.NativeVec.dot($a, $b, $aFloat, $bFloat)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductF =
    copy(left = l, right = r)
}

case class CosineSimF(left: Expression, right: Expression) extends VecBinary {
  override def prettyName: String = "cosine_sim"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeVec.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], aFloat, bFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.NativeVec.cosine($a, $b, $aFloat, $bFloat)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimF =
    copy(left = l, right = r)
}

/** All LSH hyperplane signatures for a vector in one expression (one
  * packed long per table). The plane matrix rides along as a codegen
  * reference object — no per-row literal-array construction, no 24
  * separate dot-product expression nodes. */
case class HyperplaneSigs(child: Expression,
    planes: Array[Array[Double]], bitsPerTable: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hyperplane_sigs"
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override protected def nullSafeEval(input: Any): Any =
    NativeVec.hyperSigs(input.asInstanceOf[ArrayData], planes, bitsPerTable, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.NativeVec.hyperSigs($c, $ref, $bitsPerTable, $isFloat)")
  }
  override protected def withNewChildInternal(c: Expression): HyperplaneSigs =
    copy(child = c)
}

/** [[HyperplaneSigs]]'s exact-integer twin for quantized long vectors —
  * see [[NativeVec.hyperSigsLong]] for why the arithmetic must be long. */
case class HyperplaneSigsLong(child: Expression,
    planes: Array[Array[Long]], bitsPerTable: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hyperplane_sigs_long"
  override protected def nullSafeEval(input: Any): Any =
    NativeVec.hyperSigsLong(input.asInstanceOf[ArrayData], planes, bitsPerTable)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "long[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.NativeVec.hyperSigsLong($c, $ref, $bitsPerTable)")
  }
  override protected def withNewChildInternal(c: Expression): HyperplaneSigsLong =
    copy(child = c)
}

/** Spherical k-means cell assignment: argmax-dot over a small centroid
  * matrix carried as a codegen reference object (one tight loop per row,
  * like [[HyperplaneSigs]]). */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nearest_centroid"
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override protected def nullSafeEval(input: Any): Any =
    NativeVec.nearestCentroid(input.asInstanceOf[ArrayData], centroids, isFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.NativeVec.nearestCentroid($c, $ref, $isFloat)")
  }
  override protected def withNewChildInternal(c: Expression): NearestCentroid =
    copy(child = c)
}

/** Column-level entry points. */
object NativeExprs {
  private val longs = ArrayType(LongType, containsNull = false)

  def hyperplaneSigs(vec: Column, planes: Array[Array[Double]],
      bitsPerTable: Int): Column =
    ColumnBridge.column(
      HyperplaneSigs(ColumnBridge.expression(vec), planes, bitsPerTable))
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column =
    ColumnBridge.column(
      NearestCentroid(ColumnBridge.expression(vec), centroids))
  def tokenShingles(c: Column, n: Int): Column =
    Native.call("token_shingles", NativeHash, "tokenShingles",
      ArrayType(StringType, containsNull = false), Seq(n))(c)
  def minhashSig(shingles: Column, k: Int): Column =
    Native.call("minhash_sig", NativeHash, "minhashSig", longs, Seq(k))(shingles)
  def minhashSigPortable(shingles: Column, k: Int): Column =
    Native.call("minhash_sig_portable", NativeHash, "minhashSigPortable", longs,
      Seq(k))(shingles)
  /** (a·b) mod 2^61-1 — the 128-bit-split modular multiply
    * ([[RollingMinHash.mulmod]]) lifted to column level, so integer hash
    * chains can square/remix within whole-stage codegen (plain `a * b`
    * overflows Long for 61-bit operands; an oracle replays the same
    * product with 128-bit integers). */
  def mulmodP(a: Column, b: Column): Column =
    Native.call("mulmod_p", RollingMinHash, "mulmod", LongType)(a, b)
  def simhash64(tokens: Column): Column =
    Native.call("simhash64", NativeHash, "simhash64", LongType)(tokens)
  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductF(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimF(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  /** Exact integer squared-L2 over quantized `array<bigint>` vectors — the
    * k-means / PQ hot path as one tight loop per row (zip_with + aggregate
    * would walk the arrays through interpreted higher-order lambdas). */
  def l2sqLong(a: Column, b: Column): Column =
    Native.call("l2sq_long", NativeVec, "l2sqLong", LongType)(a, b)
  def sortedCountLE(arr: Column, x: Column): Column =
    Native.call("sorted_count_le", NativeVec, "sortedCountLE", LongType)(arr, x)
  def blockMotionBest(f0: Column, f1: Column, blk: Column): Column =
    Native.call("block_motion_best", NativeVec, "blockMotionBest", longs)(f0, f1, blk)
  def hyperplaneSigsLong(vec: Column, planes: Array[Array[Long]],
      bitsPerTable: Int): Column =
    ColumnBridge.column(
      HyperplaneSigsLong(ColumnBridge.expression(vec), planes, bitsPerTable))
}

/** One-pass char-n-gram profile (round-12 sf1 finding): the composable
  * form — `array_distinct(transform(sequence(...), i => substr(norm,
  * i+1, n)))` consumed by size/array_min/array_max — re-evaluates the
  * WHOLE normalize pipeline (regexp_replace + trim + lower) inside the
  * per-element lambda AND once per consuming aggregate: O(len²)
  * interpreted work ×3, measured at ~500 s for 50k docs at sf1 while
  * the sf0.1 BENCH showed 0.126 s (its count() pruned the projection
  * entirely — a lesson recorded in SCALE.md). This expression
  * normalizes once, builds the distinct-gram set once, and returns
  * struct(n_grams, min_gram, max_gram) from one tight loop inside
  * codegen. Normalization reproduces the composable form exactly
  * (round-13 advisory fix): whitespace is Java-regex `\s` — the ASCII
  * set [ \t\n\x0B\f\r], NOT Character.isWhitespace, which also matches
  * U+2028 etc. — and lowercasing is the whole-string
  * UTF8String.toLowerCase that Spark's `lower()` calls (codepoint-
  * aware, e.g. U+0130 İ → "i" + combining dot), NOT per-UTF-16-char
  * Character.toLowerCase. min/max use UTF8String (binary) ordering.
  * Text shorter than n yields (0, null, null) — intentionally the
  * DuckDB oracle's semantics (len(list from empty range) = 0), where
  * the old when(length >= n, …) guard produced a null struct; the
  * gate pins the 0 form. */
object CharGramStats {
  val schema: StructType = StructType(Seq(
    StructField("n_grams", IntegerType, nullable = false),
    StructField("min_gram", StringType, nullable = true),
    StructField("max_gram", StringType, nullable = true)))

  // Java-regex \s: the ASCII whitespace set only
  private def isRegexWs(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  def stats(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    // normalize: \s+ → single space (collapse + trim in one pass), then
    // the SAME whole-string lowercase Spark's lower() applies
    val raw = text.toString
    val sb = new java.lang.StringBuilder(raw.length)
    var i = 0
    var pendingSpace = false
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (isRegexWs(c)) { if (sb.length > 0) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    val s = UTF8String.fromString(sb.toString).toLowerCase
    val len = s.numChars()
    if (len < n)
      return org.apache.spark.sql.catalyst.InternalRow(0, null, null)
    val seen = new java.util.HashSet[UTF8String](len * 2)
    var min: UTF8String = null
    var max: UTF8String = null
    var k = 0
    while (k <= len - n) {
      val g = s.substringSQL(k + 1, n)
      if (seen.add(g)) {
        if (min == null || g.compareTo(min) < 0) min = g
        if (max == null || g.compareTo(max) > 0) max = g
      }
      k += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(seen.size(), min, max)
  }
}
