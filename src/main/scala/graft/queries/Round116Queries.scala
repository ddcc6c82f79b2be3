package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables

/** Hundred-sixteenth batch — training-corpus quality filters and
  * reproducible sampling:
  *
  *  - t65: Gopher-style repetition signals (Rae et al. 2021,
  *    "Scaling Language Models: ... Gopher", §A1.1 MassiveText
  *    filters) — per document, the duplicate-bigram fraction and the
  *    top-bigram mass, the two cheapest of the published repetition
  *    rules, in exact basis points (integer div both engines). The
  *    whole computation is array expressions on the token list —
  *    per-row bounded work inside codegen, zero shuffles before the
  *    final sort.
  *  - t66: MATTR — moving-average type-token ratio (Covington &
  *    McFall 2010), the windowed lexical-diversity measure that,
  *    unlike raw TTR, doesn't decay with document length: mean
  *    distinct-token count over every 20-token sliding window, again
  *    exact bp. Per-row O(n·w) array aggregation.
  *  - p53: reproducible weighted corpus sampling — every document
  *    gets a deterministic integer priority h(doc_id)·10⁴ div
  *    n_chars (a multiplicative hash standing in for the uniform
  *    draw; dividing by the weight favors heavier documents, the
  *    hash-priority shape of Efraimidis–Spirakis A-ES sampling with
  *    the float exponential replaced by an exact integer surrogate)
  *    and the sample is the global 50 smallest priorities —
  *    TakeOrdered in Spark: per-partition top-k then a driver merge
  *    of k·partitions rows, never a global sort. Reproducibility is
  *    the point: the same corpus always yields the same sample, on
  *    any cluster layout.
  *
  * Scale: t65/t66 are map-only until the output sort; p53 is the
  * distributed top-k selection shape.
  *
  * Reference scope: beyond-reference LLM-pipeline surface (the
  * reference's transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round116Queries extends QueryModule {

  // ── t65: duplicate-bigram and top-bigram repetition fractions ─────────

  def t65_gopher_repetition(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .withColumn("bg", expr(
        "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"))
      .select(col("doc_id"),
        size(col("bg")).cast(LongType).as("n_bigrams"),
        size(array_distinct(col("bg"))).cast(LongType).as("n_distinct"),
        expr("""array_max(transform(array_distinct(bg),
          |  x -> size(filter(bg, y -> y = x))))""".stripMargin)
          .cast(LongType).as("top_occ"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("(n_bigrams - n_distinct) * 10000 div n_bigrams").as("dup_bp"),
        expr("top_occ * 10000 div n_bigrams").as("top_bp"))
      .orderBy(col("doc_id"))
  }

  // ── t66: moving-average type-token ratio, window 20 ───────────────────

  def t66_mattr(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Text
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 20)
      .select(col("doc_id"),
        (size(col("t")) - 19).cast(LongType).as("n_windows"),
        expr("""aggregate(sequence(1, size(t) - 19), 0L,
          |  (acc, i) -> acc + size(array_distinct(slice(t, i, 20))))"""
          .stripMargin).as("sum_distinct"))
      .select(col("doc_id"), col("n_windows"),
        expr("sum_distinct * 10000 div (n_windows * 20)").as("mattr_bp"))
      .orderBy(col("doc_id"))
  }

  // ── p53: deterministic hash-priority weighted sample ──────────────────

  def p53_hash_priority_sample(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast(LongType).as("w"),
        expr("(doc_id * 2654435761) % 1000003").as("h"))
      .select(col("doc_id"), col("w"), col("h"),
        expr("h * 10000 div w").as("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(50)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t65_gopher_repetition"   -> (t65_gopher_repetition _),
    "t66_mattr"               -> (t66_mattr _),
    "p53_hash_priority_sample" -> (p53_hash_priority_sample _))

  val oracles: Map[String, String] = Map(
    "t65_gopher_repetition" ->
      raw"""WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |bgs AS (
        |  SELECT doc_id,
        |    list_transform(range(2, len(t) + 1),
        |      i -> t[CAST(i - 1 AS INTEGER)] || ' ' ||
        |           t[CAST(i AS INTEGER)]) AS bg
        |  FROM tk WHERE len(t) >= 2),
        |st AS (
        |  SELECT doc_id, CAST(len(bg) AS BIGINT) AS n_bigrams,
        |    CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct,
        |    CAST(list_max(list_transform(list_distinct(bg),
        |      x -> len(list_filter(bg, y -> y = x)))) AS BIGINT) AS top_occ
        |  FROM bgs)
        |SELECT doc_id, n_bigrams,
        |  (n_bigrams - n_distinct) * 10000 // n_bigrams AS dup_bp,
        |  top_occ * 10000 // n_bigrams AS top_bp
        |FROM st ORDER BY doc_id""".stripMargin,
    "t66_mattr" ->
      raw"""WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, CAST(len(t) - 19 AS BIGINT) AS n_windows,
        |    CAST(list_sum(list_transform(range(1, len(t) - 18),
        |      i -> len(list_distinct(t[CAST(i AS INTEGER):
        |                              CAST(i + 19 AS INTEGER)]))))
        |      AS BIGINT) AS sum_distinct
        |  FROM tk WHERE len(t) >= 20)
        |SELECT doc_id, n_windows,
        |  sum_distinct * 10000 // (n_windows * 20) AS mattr_bp
        |FROM st ORDER BY doc_id""".stripMargin,
    "p53_hash_priority_sample" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
        |  (doc_id * 2654435761) % 1000003 AS h,
        |  ((doc_id * 2654435761) % 1000003) * 10000
        |    // CAST(n_chars AS BIGINT) AS priority
        |FROM documents
        |ORDER BY priority, doc_id LIMIT 50""".stripMargin)
}
