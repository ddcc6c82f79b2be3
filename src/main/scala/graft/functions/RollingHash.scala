package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Document fingerprint via Karp-Rabin rolling hash: the minimum of all
  * k-gram window hashes over the Unicode *codepoints* (a 1-fingerprint
  * winnowing scheme). Hashing codepoints rather than UTF-8 bytes keeps the
  * value recomputable by a SQL oracle via `ord(substr(s, i, 1))` for any
  * text, not just ASCII. Near-identical documents that share any
  * k-codepoint run with the minimal hash collide, making this a cheap
  * pre-cluster key for dedup.
  *
  * Runs as a [[NativeCall]] inside whole-stage codegen (no UDF
  * serialization, no row boxing) — the preferred extension point when
  * built-ins can't express the computation (SURVEY.md §7.3 preference
  * order).
  */
object RollingMinHash {
  // polynomial base/modulus: Mersenne prime 2^61-1 keeps products in range
  // via the standard fold (hi/lo split not needed at base < 2^31).
  private val B = 1000003L
  /** Mersenne-prime modulus 2^61-1, shared by every portable hash here. */
  val M: Long = (1L << 61) - 1

  def compute(s: String, k: Int): Long = {
    val cps = s.codePoints().toArray
    val n = cps.length
    if (n == 0) return 0L
    val kk = math.min(k, n)
    // hash of first window
    var h = 0L
    var i = 0
    while (i < kk) { h = mulmod(h, B) + cps(i); if (h >= M) h -= M; i += 1 }
    // B^(kk-1) mod M for the roll-off term
    var pow = 1L
    i = 1
    while (i < kk) { pow = mulmod(pow, B); i += 1 }
    var min = h
    i = kk
    while (i < n) {
      val off = mulmod(cps(i - kk).toLong, pow)
      h = h - off
      if (h < 0) h += M
      h = mulmod(h, B) + cps(i)
      if (h >= M) h -= M
      if (h < min) min = h
      i += 1
    }
    min
  }

  /** (a*b) mod 2^61-1 via 128-bit split — overflow-safe for a,b < 2^61. */
  def mulmod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    // fold: value = hi*2^64 + lo; 2^64 ≡ 8 (mod 2^61-1)
    var r = (lo & M) + (lo >>> 61) + ((hi << 3) & M) + (hi >>> 58)
    while (r >= M) r -= M
    r
  }

  /** [[compute]] over a string column's value: the [[NativeCall]] target. */
  def compute(s: UTF8String, k: Int): Long = compute(s.toString, k)

  /** Column form. */
  def rollingMinHash(c: Column, k: Int = 8): Column =
    Native.call("rolling_min_hash", RollingMinHash, "compute", LongType, Seq(k))(c)
}

/** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03): the
  * distinct minima of every `w`-window of consecutive `k`-gram
  * Karp-Rabin hashes. The winnowing guarantee: any substring shared
  * between two documents of length ≥ `k + w − 1` codepoints contributes
  * at least one *identical* fingerprint to both — the local, offset-
  * robust substring-match detector MOSS-style dedup builds on, at
  * ~2/w the density of the full k-gram set. Same portable hash family
  * as [[RollingMinHash]] (codepoints, polynomial mod 2^61-1), so a SQL
  * oracle recomputes the exact fingerprint set with a windowed MIN.
  * Returns the fingerprints sorted ascending. */
object WinnowFingerprints {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** One pass for the k-gram hashes, one monotonic-deque pass for the window minima. */
  def compute(s: String, k: Int, w: Int): GenericArrayData = {
    val B = 1000003L
    val M = RollingMinHash.M
    val cps = s.codePoints().toArray
    val n = cps.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val kk = math.min(k, n)
    val nh = n - kk + 1
    val hs = new Array[Long](nh)
    var h = 0L
    var i = 0
    while (i < kk) { h = RollingMinHash.mulmod(h, B) + cps(i); if (h >= M) h -= M; i += 1 }
    hs(0) = h
    var pow = 1L
    i = 1
    while (i < kk) { pow = RollingMinHash.mulmod(pow, B); i += 1 }
    i = kk
    while (i < n) {
      val off = RollingMinHash.mulmod(cps(i - kk).toLong, pow)
      h = h - off
      if (h < 0) h += M
      h = RollingMinHash.mulmod(h, B) + cps(i)
      if (h >= M) h -= M
      hs(i - kk + 1) = h
      i += 1
    }
    // distinct minima over every full w-window of consecutive hashes
    // (fewer than w hashes → one window spanning them all) — mirrors the
    // SQL frame ROWS BETWEEN CURRENT ROW AND w-1 FOLLOWING evaluated at
    // starts 1..max(nh-w+1, 1)
    val out = new java.util.TreeSet[java.lang.Long]()
    if (nh <= w) {
      out.add(hs.min)
    } else {
      // monotonic deque of indices with increasing hash values
      val dq = new java.util.ArrayDeque[Int]()
      var j = 0
      while (j < nh) {
        while (!dq.isEmpty && hs(dq.peekLast()) >= hs(j)) dq.pollLast()
        dq.addLast(j)
        if (j >= w - 1) {
          while (dq.peekFirst() < j - w + 1) dq.pollFirst()
          out.add(hs(dq.peekFirst()))
        }
        j += 1
      }
    }
    new GenericArrayData(out.toArray.map(_.asInstanceOf[Any]))
  }

  /** [[compute]] over a string column's value: the [[NativeCall]] target. */
  def compute(s: UTF8String, k: Int, w: Int): GenericArrayData =
    compute(s.toString, k, w)

  /** Column form. */
  def winnow(c: Column, k: Int = 8, w: Int = 16): Column =
    Native.call("winnow_fingerprints", WinnowFingerprints, "compute",
      ArrayType(LongType, containsNull = false), Seq(k, w))(c)
}

/** Content-defined chunk cut points: the 1-based end positions (in
  * codepoints) of every `w`-codepoint window whose Karp-Rabin hash is
  * ≡ 0 mod 2^maskBits — the boundary rule of content-defined chunking
  * (Muthitacharoen et al., SOSP'01 "LBFS"): because boundaries depend
  * only on local content, an insertion re-chunks O(1) chunks instead of
  * shifting every fixed-size block, so shared runs across documents
  * yield identical chunk digests. Same portable hash family as
  * [[RollingMinHash]] (codepoints, mod 2^61-1), so a SQL oracle
  * recomputes the exact cut list. Expected chunk length ≈ 2^maskBits
  * + w. */
object CdcCuts {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  def compute(s: String, w: Int, maskBits: Int): GenericArrayData = {
    val B = 1000003L
    val M = RollingMinHash.M
    val mask = (1L << maskBits) - 1
    val cps = s.codePoints().toArray
    val n = cps.length
    val cuts = scala.collection.mutable.ArrayBuffer.empty[Any]
    if (n >= w) {
      var h = 0L
      var i = 0
      while (i < w) {
        h = RollingMinHash.mulmod(h, B) + cps(i); if (h >= M) h -= M
        i += 1
      }
      var pow = 1L
      i = 1
      while (i < w) { pow = RollingMinHash.mulmod(pow, B); i += 1 }
      if ((h & mask) == 0L) cuts += w // window [1..w], cut after position w
      i = w
      while (i < n) {
        val off = RollingMinHash.mulmod(cps(i - w).toLong, pow)
        h = h - off
        if (h < 0) h += M
        h = RollingMinHash.mulmod(h, B) + cps(i)
        if (h >= M) h -= M
        if ((h & mask) == 0L) cuts += (i + 1) // 1-based end of this window
        i += 1
      }
    }
    new GenericArrayData(cuts.toArray)
  }

  /** [[compute]] over a string column's value: the [[NativeCall]] target. */
  def compute(s: UTF8String, w: Int, maskBits: Int): GenericArrayData =
    compute(s.toString, w, maskBits)

  /** Column form. */
  def cdcCuts(c: Column, w: Int = 16, maskBits: Int = 6): Column =
    Native.call("cdc_cuts", CdcCuts, "compute",
      ArrayType(IntegerType, containsNull = false), Seq(w, maskBits))(c)
}
