package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{MarkdownExprs, RobotsExprs}

/** Hundred-thirty-second batch — crawl politeness + the second markup
  * front door:
  *
  *  - t74: RFC 9309 robots.txt evaluation (functions/RobotsTxt.scala)
  *    — group selection by most-specific product token with `*`
  *    fallback, longest-match precedence, allow-wins-ties, `*`
  *    wildcards and `$` anchors. Per-source robots files (half the
  *    sources carry a dedicated graftbot group — proving group
  *    selection changes verdicts), five planted URL classes per doc
  *    exercising wildcard+anchor, nested allow-over-disallow and
  *    group-scoping; the oracle replays every verdict closed-form.
  *  - t75: markdown → text (functions/MarkdownText.scala) — ATX
  *    headings, fenced code EXCLUDED whole (decoy fences must not
  *    leak), blockquote/list stripping, emphasis unwrap, links keep
  *    text, images drop, inline code keeps content. Fixture-gated on
  *    exact prose recovery + closed-form structure counts (the t72
  *    pattern).
  *
  * Scale: both are per-row expression work + one ≤20-group rollup —
  * embarrassingly parallel, no corpus-scale shuffle.
  */
object Round132Queries extends QueryModule {

  // ── t74: robots.txt politeness gate ──────────────────────────────────

  def t74_robots_txt(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select(col("source"), col("doc_id"))
    val srcNum = regexp_extract(col("source"), "([0-9]+)$", 1).cast("int")
    val robots = concat(
      lit("# fixture robots for "), col("source"), lit("\n"),
      lit("Sitemap: https://example.com/sitemap.xml\n"),
      lit("User-agent: *\nCrawl-delay: 5\n"),
      lit("Disallow: /private/\nAllow: /private/ok/\nDisallow: /*.tmp$\n"),
      when(srcNum % 2 === 1,
        lit("\nUser-agent: graftbot\nDisallow: /secret/\nAllow: /\n"))
        .otherwise(lit("")))
    val path = {
      val c = col("doc_id") % 5
      when(c === 0, concat(lit("/public/page"), col("doc_id"), lit(".html")))
        .when(c === 1, concat(lit("/private/data"), col("doc_id"), lit(".html")))
        .when(c === 2, concat(lit("/private/ok/x"), col("doc_id"), lit(".html")))
        .when(c === 3, concat(lit("/cache/f"), col("doc_id"), lit(".tmp")))
        .otherwise(concat(lit("/secret/s"), col("doc_id"), lit(".html")))
    }
    docs
      .select(col("source"),
        RobotsExprs.robotsAllowed(robots, path).as("allowed"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_urls"),
        sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
        sum(when(col("allowed"), 0L).otherwise(1L)).as("n_denied"))
      .orderBy(col("source"))
  }

  // ── t75: markdown → text extraction round trip ───────────────────────

  def t75_markdown_extract(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("text"))
    docs
      .select(col("source"), col("text"), col("doc_id"),
        MarkdownExprs.markdownExtract(
          MarkdownExprs.markdownFromText(col("text"), col("doc_id")))
          .as("ex"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("ex.body"))).as("sum_body_len"),
        sum(col("ex.n_links").cast("long")).as("n_links"),
        sum(col("ex.n_blocks").cast("long")).as("n_blocks"),
        sum(col("ex.n_headings").cast("long")).as("n_headings"),
        sum(col("ex.n_fences").cast("long")).as("n_fences"),
        bool_and(translate(col("ex.body"), "\n", " ") ===
          concat(lit("doc "), col("doc_id"), lit(" "), col("text")))
          .as("all_roundtrip"),
        sum(when(col("ex.body").contains("DECOY"), 1L).otherwise(0L))
          .as("n_decoy_leaks"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t74_robots_txt"      -> (t74_robots_txt _),
    "t75_markdown_extract" -> (t75_markdown_extract _))

  val oracles: Map[String, String] = Map(
    // verdicts replayed closed-form: graftbot-group sources (odd src
    // number) deny only /secret/; *-group sources deny /private/
    // (except /private/ok/) and *.tmp$
    "t74_robots_txt" ->
      """WITH per AS (
        |  SELECT source, doc_id,
        |    CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) % 2 AS p,
        |    doc_id % 5 AS c
        |  FROM documents),
        |v AS (
        |  SELECT source,
        |    CASE WHEN p = 1 THEN (c <> 4)
        |         ELSE (c <> 1 AND c <> 3) END AS allowed
        |  FROM per)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  CAST(SUM(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_allowed,
        |  CAST(SUM(CASE WHEN allowed THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_denied
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    "t75_markdown_extract" ->
      """WITH d AS (
        |  SELECT doc_id, source, text,
        |    7 + doc_id % 4 AS k,
        |    length(string_split(text, ' ')) AS nw
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, source, text,
        |    (nw + k - 1) // k AS np,
        |    (3 - doc_id % 3) % 3 AS j0
        |  FROM d)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(length(text) + 5 + length(CAST(doc_id AS VARCHAR)))
        |    AS BIGINT) AS sum_body_len,
        |  CAST(SUM((np - j0 + 2) // 3) AS BIGINT) AS n_links,
        |  CAST(SUM(1 + np) AS BIGINT) AS n_blocks,
        |  CAST(COUNT(*) AS BIGINT) AS n_headings,
        |  CAST(COUNT(*) AS BIGINT) AS n_fences,
        |  TRUE AS all_roundtrip,
        |  CAST(0 AS BIGINT) AS n_decoy_leaks
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)
}
