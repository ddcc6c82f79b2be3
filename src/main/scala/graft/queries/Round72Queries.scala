package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Seventy-second batch — character-class corpus profiling:
  *
  *  - t41: per-source character-class profile — the C4-style cleaning
  *    signal sheet: what fraction of each source's bytes are uppercase,
  *    digits, punctuation, whitespace (a source drifting toward digits
  *    or symbols is usually tables/code/markup, toward uppercase is
  *    headers/shouting). Counts come from length deltas of
  *    class-stripping regex replaces — one map-side pass, one bounded
  *    group-by; ratios in exact integer basis points of the source's
  *    total characters.
  *
  * Reference scope: extension beyond the reference surface (its
  * transform dialect is open, /root/reference/tools.py:58-65).
  */
object Round72Queries extends QueryModule {

  def t41_charclass_profile(s: SparkSession, dir: String): DataFrame = {
    val cls = Tables.load(s, dir, "documents").select(col("source"),
      length(col("text")).cast("long").as("n_chars"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "[A-Z]", ""))).cast("long")
        .as("n_upper"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "[0-9]", ""))).cast("long")
        .as("n_digit"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "[.,;:!?'\"()-]", "")))
        .cast("long").as("n_punct"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "\\s", ""))).cast("long")
        .as("n_ws"))
    cls.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
        sum(col("n_upper")).as("n_upper"),
        sum(col("n_digit")).as("n_digit"),
        sum(col("n_punct")).as("n_punct"), sum(col("n_ws")).as("n_ws"))
      .select(col("source"), col("n_docs"), col("n_chars"),
        expr("n_upper * 10000 div n_chars").as("upper_bp"),
        expr("n_digit * 10000 div n_chars").as("digit_bp"),
        expr("n_punct * 10000 div n_chars").as("punct_bp"),
        expr("n_ws * 10000 div n_chars").as("ws_bp"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t41_charclass_profile" -> (t41_charclass_profile _))

  val oracles: Map[String, String] = Map(
    "t41_charclass_profile" ->
      """WITH cls AS (
        |  SELECT source, CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) -
        |      length(regexp_replace(text, '[A-Z]', '', 'g')) AS BIGINT)
        |      AS n_upper,
        |    CAST(length(text) -
        |      length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT)
        |      AS n_digit,
        |    CAST(length(text) -
        |      length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g'))
        |      AS BIGINT) AS n_punct,
        |    CAST(length(text) -
        |      length(regexp_replace(text, '\s', '', 'g')) AS BIGINT)
        |      AS n_ws
        |  FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |  CAST(SUM(n_upper) AS BIGINT) * 10000
        |    // CAST(SUM(n_chars) AS BIGINT) AS upper_bp,
        |  CAST(SUM(n_digit) AS BIGINT) * 10000
        |    // CAST(SUM(n_chars) AS BIGINT) AS digit_bp,
        |  CAST(SUM(n_punct) AS BIGINT) * 10000
        |    // CAST(SUM(n_chars) AS BIGINT) AS punct_bp,
        |  CAST(SUM(n_ws) AS BIGINT) * 10000
        |    // CAST(SUM(n_chars) AS BIGINT) AS ws_bp
        |FROM cls GROUP BY source ORDER BY source""".stripMargin)
}
