package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.SitemapExprs

/** Hundred-thirty-sixth batch — crawl discovery:
  *
  *  - t77: sitemap XML census (functions/Sitemap.scala) — the
  *    frontier-seeding half of the politeness pair next to t74's
  *    robots.txt. A real minimal-XML walk (declaration, comments,
  *    attribute-bearing and unknown elements, predefined entities)
  *    with the sitemaps.org protocol constraints enforced: loc
  *    required, out-of-range priorities counted invalid (consumers
  *    ignore them). Entry counts, the W3C-date range (the fixture
  *    crosses a year wrap), the exact priority mass in tenths and
  *    decoded-loc character mass all replay closed-form.
  */
object Round136Queries extends QueryModule {

  def t77_sitemap_census(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        SitemapExprs.sitemapCensus(
          SitemapExprs.sitemapFromId(col("doc_id"))).as("c"))
      .select(col("doc_id"),
        col("c.n_urls").as("n_urls"),
        col("c.n_valid").as("n_valid"),
        col("c.n_invalid_priority").as("n_invalid_priority"),
        col("c.n_with_entity").as("n_with_entity"),
        col("c.priority_tenths").as("priority_tenths"),
        col("c.min_lastmod").as("min_lastmod"),
        col("c.max_lastmod").as("max_lastmod"),
        col("c.loc_chars").as("loc_chars"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t77_sitemap_census" -> (t77_sitemap_census _))

  val oracles: Map[String, String] = Map(
    // fixture rules: n = 3 + doc_id%5 urls; entry u: lastmod =
    // 2024-01-01 + (doc_id+u)%366 days, priority u%11 tenths except
    // the planted-invalid 1.5 at u=4, &amp; entity when u%3=0
    "t77_sitemap_census" ->
      """WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n FROM documents),
        |e AS (
        |  SELECT doc_id, n, (doc_id + u.u) % 366 AS day
        |  FROM d CROSS JOIN (SELECT unnest(range(0, 7)) AS u) u
        |  WHERE u.u < n)
        |SELECT d.doc_id,
        |  CAST(n AS INT) AS n_urls,
        |  CAST(n - (CASE WHEN d.doc_id % 5 >= 2 THEN 1 ELSE 0 END) AS INT)
        |    AS n_valid,
        |  CAST(CASE WHEN d.doc_id % 5 >= 2 THEN 1 ELSE 0 END AS INT)
        |    AS n_invalid_priority,
        |  CAST((n + 2) // 3 AS INT) AS n_with_entity,
        |  CAST(n * (n - 1) // 2
        |    - (CASE WHEN d.doc_id % 5 >= 2 THEN 4 ELSE 0 END) AS BIGINT)
        |    AS priority_tenths,
        |  CAST(DATE '2024-01-01'
        |    + CAST((SELECT MIN(day) FROM e WHERE e.doc_id = d.doc_id)
        |        AS INT) AS VARCHAR) AS min_lastmod,
        |  CAST(DATE '2024-01-01'
        |    + CAST((SELECT MAX(day) FROM e WHERE e.doc_id = d.doc_id)
        |        AS INT) AS VARCHAR) AS max_lastmod,
        |  CAST(n * (22 + length(CAST(d.doc_id AS VARCHAR)))
        |    + 8 * ((n + 2) // 3) AS BIGINT) AS loc_chars
        |FROM d ORDER BY d.doc_id""".stripMargin)
}
