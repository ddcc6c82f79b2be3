package graft.queries

/** DuckDB SQL fragments that several oracles share, kept in one place so
  * they all replay the exact same arithmetic. */
private[queries] object SketchSql {
  val MStr = "2305843009213693951" // 2^61 - 1
  val A2 = "179424673"
  val B2 = "15485867"

  /** Oracle-side replay of [[graft.operators.CountMin.mix61]]: the mixed
    * 61-bit hash of `k` under family row (a, b), as BIGINT. The chain
    * `((h1² mod P)·A2 + B2) mod P` with `h1 = (k·a + b) mod P` runs over
    * HUGEINT (products reach 2^122). */
  def mix(k: String, a: String, b: String): String = {
    val h1 = s"((CAST($k AS HUGEINT) * $a + $b) % $MStr)"
    s"CAST(((($h1 * $h1) % $MStr) * $A2 + $B2) % $MStr AS BIGINT)"
  }

  /** [[mix]] reduced mod `w` — the sketch bucket. */
  def bucket(k: String, a: String, b: String, w: Int): String =
    s"(${mix(k, a, b)} % $w)"

  /** The media fixtures' raster closed form: sample `i` (0-based, global
    * across frames) = ord(text[i mod len]) mod 256. */
  def textByte(i: String): String =
    s"(ord(substr(text, CAST((($i) % length(text)) + 1 AS INT), 1)) % 256)"
}
