package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Seventh batch: winnowing-fingerprint overlap dedup (the MOSS-style
  * local substring-match detector) and Flesch readability scoring — both
  * LLM-pipeline extensions over the `documents` table, both oracle-exact.
  *
  * Reference scope: extensions beyond the reference surface, same
  * contract as the other d/t families (reference transform dialect is
  * open — /root/reference/tools.py:58-65).
  */
object Round7Queries extends QueryModule {

  // ── d13: winnowed fingerprint overlap — pairs of documents sharing ≥5
  //        winnowing fingerprints (k=16 codepoints, window w=16), scored
  //        by shared / min(fingerprint counts). Winnowing guarantees any
  //        shared run ≥ k+w−1 codepoints yields a shared fingerprint, at
  //        ~2/w the density of the full k-gram posting list — the scale
  //        trade d10's full-shingle table doesn't make. k=16 keeps grams
  //        discriminative on natural text (k=8 matched 9% of all pairs
  //        through stock phrases; k=16 isolates the true near-dup set).
  //        Candidates meet only through the fingerprint equi-join;
  //        nothing pairwise. ──────────────────────────────────────────
  def d13_winnow_overlap(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.winnowOverlap(Tables.load(s, dir, "documents"),
        "doc_id", "text", k = 16, w = 16, minShared = 5)
      .orderBy(col("id_a"), col("id_b"))

  // ── t15: Flesch reading ease — 206.835 − 1.015·(words/sentences)
  //        − 84.6·(syllables/words), with sentences = [.!?]+ runs and
  //        syllables = vowel-group count per word (≥1). Pure per-row
  //        regex arithmetic inside codegen; integer counts make the
  //        double formula engine-portable. ─────────────────────────────
  def t15_readability(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    val toks = Text.tokens(col("text"))
    Tables.load(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        size(toks).cast(LongType).as("n_words"),
        greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
          .cast(LongType).as("n_sentences"),
        expr("""CAST(aggregate(transform(split(trim(text), '\\s+'),
          |  w -> greatest(regexp_count(lower(w), '[aeiouy]+'), 1)),
          |  0L, (a, x) -> a + CAST(x AS BIGINT)) AS BIGINT)""".stripMargin)
          .as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast(DoubleType) /
            col("n_sentences").cast(DoubleType))
          - lit(84.6) * (col("n_syllables").cast(DoubleType) /
            col("n_words").cast(DoubleType)), 6).as("flesch"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d13_winnow_overlap" -> (d13_winnow_overlap _),
    "t15_readability"    -> (t15_readability _))

  /** B^(15-j) mod 2^61-1 for j=0..15 (B=1000003) — DuckDB recomputes the
    * Karp-Rabin 16-gram hash as a weighted HUGEINT sum (same hash family
    * as t3's oracle). */
  private val winnowPowers: String = {
    val M = BigInt(graft.functions.RollingMinHash.M)
    (0 to 15).map(j => s"($j, ${BigInt(1000003).modPow(BigInt(15 - j), M)})")
      .mkString(", ")
  }

  val oracles: Map[String, String] = Map(
    "d13_winnow_overlap" ->
      s"""WITH pw(j, p) AS (VALUES $winnowPowers),
        |d AS (SELECT doc_id, text, length(text) AS n FROM documents
        |      WHERE length(text) >= 16),
        |win AS (SELECT doc_id, text, unnest(range(1, n - 14)) AS i FROM d),
        |h AS (
        |  SELECT w.doc_id, w.i,
        |         SUM(CAST(ord(substr(w.text, CAST(w.i + pw.j AS INT), 1)) AS HUGEINT)
        |             * CAST(pw.p AS HUGEINT)) % 2305843009213693951 AS hv
        |  FROM win w CROSS JOIN pw
        |  GROUP BY 1, 2),
        |g AS (SELECT doc_id, i, hv,
        |        COUNT(*) OVER (PARTITION BY doc_id) AS ng FROM h),
        |m AS (
        |  SELECT doc_id, i, ng,
        |    MIN(hv) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fp
        |  FROM g),
        |sel AS (SELECT DISTINCT doc_id, fp FROM m
        |        WHERE i <= GREATEST(ng - 15, 1)),
        |sized AS (SELECT doc_id, COUNT(*) AS nfp FROM sel GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        |  FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT id_a, id_b, shared,
        |  ROUND(CAST(shared AS DOUBLE) /
        |    CAST(LEAST(sa.nfp, sb.nfp) AS DOUBLE), 6) AS overlap
        |FROM pairs JOIN sized sa ON sa.doc_id = id_a
        |JOIN sized sb ON sb.doc_id = id_b
        |ORDER BY id_a, id_b""".stripMargin,
    "t15_readability" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS n_sentences,
        |    CAST(list_sum(list_transform(toks,
        |      w -> GREATEST(len(regexp_extract_all(lower(w), '[aeiouy]+')), 1)))
        |      AS BIGINT) AS n_syllables
        |  FROM d)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  ROUND(CAST(206.835 AS DOUBLE)
        |    - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE)
        |        / CAST(n_sentences AS DOUBLE))
        |    - CAST(84.6 AS DOUBLE) * (CAST(n_syllables AS DOUBLE)
        |        / CAST(n_words AS DOUBLE)), 6) AS flesch
        |FROM c ORDER BY doc_id""".stripMargin)
}
