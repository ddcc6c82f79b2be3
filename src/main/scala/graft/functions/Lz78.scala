package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** LZ78 incremental parse (Ziv & Lempel 1978): the number of phrases
  * in the dictionary parse of a bounded prefix — the second
  * compressibility probe next to [[BwtExpr]] (phrase density upper-
  * bounds the LZ-family code length, and 2^(phrases) relates to the
  * string's empirical entropy). The dictionary is prefix-closed by
  * construction, so the greedy longest-dictionary-match step is the
  * classical parse. Implemented as a trie walk per row; the oracle
  * replays the parse with a recursive CTE carrying the dictionary as
  * a growing string list.
  */
object Lz78Expr {

  /** Static forwarder target for generated Java code: phrase count of
    * the LZ78 parse (trie walk; each phrase = longest dict match plus
    * one fresh character, truncated at end of input). */
  def phrases(s: String): Long = {
    val n = s.length
    if (n == 0) return 0L
    // trie as nested maps; root children only — depth ≤ longest phrase
    final class Node { val kids = new java.util.HashMap[Char, Node]() }
    val root = new Node
    var pos = 0
    var count = 0L
    while (pos < n) {
      var node = root
      var i = pos
      while (i < n && node.kids.containsKey(s.charAt(i))) {
        node = node.kids.get(s.charAt(i))
        i += 1
      }
      if (i < n) node.kids.put(s.charAt(i), new Node)
      pos = i + 1 // consume match + the fresh char (or end)
      count += 1L
    }
    count
  }

  /** [[phrases]] over a string column's value: the [[NativeCall]] target. */
  def phrases(s: UTF8String): Long = phrases(s.toString)

  /** Column form. */
  def lz78Phrases(s: Column): Column =
    Native.call("lz78_phrases", Lz78Expr, "phrases", LongType)(s)
}
